"""Property-based tests (hypothesis): the operators whose semantics have
edge cases a fixed fixture can miss, checked against independent pure-Python
reference implementations on generated data.

- as-of join: tie timestamps, missing keys, empty right sides;
- salted aggregation: must be *invisible* (≡ plain groupBy) for any data,
  not just the benchmark fixture;
- shingling: boundary document lengths around k.

Example counts stay small — each example builds Spark DataFrames — but the
generators hit the boundaries deliberately (ties via tiny value domains).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.skew import salted_sum_count
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.text import (
    shingles_col,
    tokens_col,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import asof_join

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# tiny domains force key collisions and timestamp ties
KEYS = st.integers(min_value=0, max_value=3)
TS = st.integers(min_value=0, max_value=8)


@given(
    left=st.lists(st.tuples(KEYS, TS), max_size=12),
    right=st.lists(st.tuples(KEYS, TS), max_size=12),
)
@SETTINGS
def test_asof_join_matches_reference(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)] or [(None, None, None)],
        "k long, ts long, row_id long",
    ).filter(F.col("row_id").isNotNull())
    rdf = spark.createDataFrame(
        right or [(None, None)], "k long, ts long"
    ).filter(F.col("k").isNotNull())

    got = {
        r["row_id"]: r["asof_ts"]
        for r in asof_join(ldf, rdf, key="k", asof_col="asof_ts").collect()
    }
    want = {
        i: max((rt for rk, rt in right if rk == k and rt <= t), default=None)
        for i, (k, t) in enumerate(left)
    }
    assert got == want


@given(rows=st.lists(st.tuples(KEYS, st.integers(min_value=-1000, max_value=1000)), max_size=20))
@SETTINGS
def test_salted_aggregation_is_invisible(spark, rows):
    df = spark.createDataFrame(
        rows or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull()).withColumn("v", F.col("v").cast("double"))
    salted = {
        r["k"]: (r["trip_count"], r["total_value"])
        for r in salted_sum_count(df, ["k"], "v").collect()
    }
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("s"))
        .collect()
    }
    assert salted == plain


@given(words=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=6))
@SETTINGS
def test_shingles_match_reference(spark, words):
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(shingles_col(tokens_col("text"), 3).alias("sh")).collect()[0]["sh"]
    toks = text.split(" ") if text else [""]
    want = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)] if len(toks) >= 3 else []
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            KEYS,                                     # user
            st.integers(min_value=0, max_value=50),   # ts seconds (ties likely)
            st.integers(min_value=-500, max_value=500),  # value in cents
        ),
        max_size=16,
    )
)
@SETTINGS
def test_twap_matches_reference(spark, rows):
    """Time-weighted average against a pure-Python reference on generated
    irregular series — tie timestamps, negative values, single-point and
    zero-span users all land in the domain."""
    import datetime

    from pyspark.sql import Window

    df = spark.createDataFrame(
        [
            (i, k, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=t), c / 100.0)
            for i, (k, t, c) in enumerate(rows)
        ]
        or [(None, None, None, None)],
        "event_id long, user_id long, ts timestamp, value double",
    ).filter(F.col("event_id").isNotNull())

    # re-run the exact query body on this frame (same expressions)
    ev = df.select(
        "user_id", "event_id", F.unix_micros("ts").alias("t"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    d = ev.select("user_id", "t", "v_cents", (F.lead("t").over(w) - F.col("t")).alias("dt"))
    agg = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        (F.max("t") - F.min("t")).cast("long").alias("span_us"),
        F.sum(F.col("v_cents") * F.col("dt")).cast("long").alias("wsum_cus"),
    )
    got = {
        r["user_id"]: (r["n_points"], r["span_us"], r["twap"])
        for r in agg.select(
            "user_id", "n_points", "span_us",
            F.when(F.col("span_us") > 0,
                   F.col("wsum_cus").cast("double") / (F.col("span_us") * 100).cast("double")
                   ).alias("twap"),
        ).collect()
    }

    per_user: dict[int, list] = {}
    for i, (k, t, c) in enumerate(rows):
        per_user.setdefault(k, []).append((t * 1_000_000, i, c))
    for k, pts in per_user.items():
        pts.sort(key=lambda p: (p[0], p[1]))
        span = pts[-1][0] - pts[0][0]
        n, s, twap = got[k]
        assert n == len(pts) and s == span
        if span == 0:
            assert twap is None
        else:
            wsum = sum(c * (pts[j + 1][0] - t) for j, (t, _, c) in enumerate(pts[:-1]))
            assert twap == wsum / (span * 100)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "cc", "dd", "eee"]), min_size=1, max_size=12),
        min_size=1,
        max_size=5,
    )
)
@SETTINGS
def test_cdc_chunks_partition_any_token_stream(spark, docs):
    """For ANY token stream: chunks reconstruct the document exactly, chunk
    token counts sum to the document length, and chunk boundaries are
    content-determined (first hex digit of md5(token) == '0')."""
    import hashlib

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        cdc_chunks,
    )

    toked = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)], "doc_id long, toks array<string>"
    )
    rows = cdc_chunks(toked).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for i, toks in enumerate(docs):
        chunks = sorted(per_doc[i], key=lambda r: r["chunk_id"])
        assert " ".join(c["chunk_text"] for c in chunks) == " ".join(toks)
        assert sum(c["n_toks"] for c in chunks) == len(toks)
        # reference chunking: boundary iff md5(tok) starts with '0'
        want_n_chunks = len(
            {sum(1 for t in toks[: j + 1] if hashlib.md5(t.encode()).hexdigest()[0] == "0")
             for j in range(len(toks))}
        )
        assert len(chunks) == want_n_chunks


@given(
    base=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from("abc"), st.integers(0, 999)),
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    upd=st.lists(
        st.tuples(st.integers(0, 40), st.sampled_from("abc"), st.integers(0, 999)),
        max_size=25,
        unique_by=lambda t: t[0],
    ),
)
@SETTINGS
def test_ivm_equals_recompute_for_any_snapshots(spark, base, upd):
    """Incremental aggregate maintenance ≡ full recompute for ARBITRARY
    old/new snapshot pairs (inserts, deletes, updates, group moves, empty
    sides): the maintained (count, decimal sum) per group must bit-match
    grouping the new snapshot directly."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.merge import (
        apply_agg_deltas,
    )

    schema = "okey long, grp string, amt double"
    old_rows = [(k, g, v / 100.0) for k, g, v in base]
    new_rows = [(k, g, v / 100.0) for k, g, v in upd]
    old = spark.createDataFrame(old_rows, schema) if old_rows else spark.createDataFrame([], schema)
    new = spark.createDataFrame(new_rows, schema) if new_rows else spark.createDataFrame([], schema)
    agg = lambda df: df.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("amt").cast("decimal(18,2)")).alias("rev_dec"),
    )
    got = {
        r["grp"]: (r["n_orders"], r["rev_dec"])
        for r in apply_agg_deltas(agg(old), new, old, "okey", "grp", "amt").collect()
    }
    want = {r["grp"]: (r["n_orders"], r["rev_dec"]) for r in agg(new).collect()}
    assert got == want


@given(
    names=st.lists(
        st.text(alphabet="ab1", min_size=1, max_size=5), min_size=2, max_size=12, unique=True
    )
)
@SETTINGS
def test_fuzzy_pairs_match_brute_force(spark, names):
    """Deletion-neighborhood blocking finds EXACTLY the brute-force
    Levenshtein<=1 pairs on arbitrary short strings over a tiny alphabet
    (dense distance-1 neighborhoods, insert/delete/substitute all hit)."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.linkage import (
        fuzzy_pairs,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "k long, name string")
    got = {
        (r["name_a"], r["name_b"])
        for r in fuzzy_pairs(df, "k", "name").collect()
    }
    want = {
        (min(a, b), max(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1:]
        if lev(a, b) <= 1
    }
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=3, max_size=12),
        min_size=2,
        max_size=10,
    )
)
@SETTINGS
def test_prefix_filter_lossless_on_any_corpus(spark, docs):
    """Prefix filtering must be LOSSLESS for any shingle sets and any set
    sizes — in particular sizes divisible by 5, where (1-0.8)·n floats a
    hair below the exact integer and an unguarded floor() cuts the prefix
    one short (the sf0.1 regression this test pins)."""
    from pyspark.sql import Row
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
        jaccard_pairs,
        prefix_filter_jaccard,
    )

    rows = [
        Row(doc_id=i, shingle=f"{a} {b} {c}")
        for i, toks in enumerate(docs)
        for a, b, c in zip(toks, toks[1:], toks[2:])
    ]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string").distinct()
    for t in (0.5, 0.8):
        truth = {
            (r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_pairs(sh, t).collect()
        }
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in prefix_filter_jaccard(sh, t).collect()
        }
        assert got == truth


# --- gaps-and-islands vs brute force ----------------------------------------

DAYS = st.integers(min_value=1, max_value=20)


@given(
    users=st.lists(st.tuples(st.integers(min_value=1, max_value=3), DAYS), min_size=1, max_size=24),
)
@SETTINGS
def test_longest_streak_matches_reference(spark, users):
    """Islands construction ≡ brute-force longest consecutive run, for any
    (user, day) multiset — duplicates, singletons, full ranges."""
    from datetime import date, datetime

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        q_longest_daily_streak,
    )
    import shutil
    import tempfile

    rows = [
        (i, datetime(2024, 1, d, 12), u, "click", 1.0, "{}")
        for i, (u, d) in enumerate(users)
    ]
    tmp = tempfile.mkdtemp(prefix="prop_streak_")
    try:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = {
            r["user_id"]: (r["streak_days"], r["streak_start"])
            for r in q_longest_daily_streak(spark, tmp).collect()
        }
        # brute force: scan sorted distinct days per user
        want = {}
        by_user: dict[int, list] = {}
        for u, d in users:
            by_user.setdefault(u, set()).add(d)
        for u, days in by_user.items():
            ds = sorted(days)
            best_len, best_start = 0, None
            run_len, run_start = 0, None
            prev = None
            for d in ds:
                if prev is not None and d == prev + 1:
                    run_len += 1
                else:
                    run_len, run_start = 1, d
                if run_len > best_len:
                    best_len, best_start = run_len, run_start
                prev = d
            want[u] = (best_len, date(2024, 1, best_start))
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- overlap chunking closed form -------------------------------------------


@given(n=st.integers(min_value=1, max_value=200))
@SETTINGS
def test_chunk_count_closed_form(spark, n):
    """The chunker's closed-form chunk count (1 + ceil((n-W)/S)) tiles any
    document length with full coverage and in-bounds slices."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        CHUNK_STRIDE as S,
        CHUNK_WINDOW as W,
    )

    n_chunks = 1 if n <= W else 1 + -(-(n - W) // S)
    starts = [1 + k * S for k in range(n_chunks)]
    lengths = [min(W, n - k * S) for k in range(n_chunks)]
    assert all(l >= 1 for l in lengths)
    assert starts[-1] + lengths[-1] - 1 == n  # last chunk ends exactly at n
    covered = set()
    for s0, l in zip(starts, lengths):
        covered.update(range(s0, s0 + l))
    assert covered == set(range(1, n + 1))


# --- winnowing guarantee ------------------------------------------------------

# pure-Python property over the reference implementation the Spark op is
# pinned against in test_r6_ops (no Spark session: the property is about
# the ALGORITHM; engine parity is the other test's job)

_WORDS = st.lists(
    st.sampled_from([f"w{i}" for i in range(6)]), min_size=0, max_size=30
)


@given(a=_WORDS, b=_WORDS, run=st.integers(min_value=0, max_value=4))
@SETTINGS
def test_winnowing_guarantee_on_planted_shared_run(a, b, run):
    """Any two token streams sharing a contiguous run of K+W-1 tokens must
    share at least one selected fingerprint (Schleimer et al. 2003, §3) —
    for ANY surrounding context, including adversarial repetition."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        WINNOW_K,
        WINNOW_W,
    )
    from tests.test_r6_ops import _py_winnow

    shared = [f"s{(i + run) % 7}" for i in range(WINNOW_K + WINNOW_W - 1)]
    fa = _py_winnow(a + shared + b)
    fb = _py_winnow(b + shared + a)
    assert fa & fb


@given(toks=_WORDS)
@SETTINGS
def test_winnowing_selection_is_subset_of_kgram_hashes(toks):
    import hashlib

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        WINNOW_K,
        WINNOW_W,
    )
    from tests.test_r6_ops import _py_winnow

    fps = _py_winnow(toks)
    if len(toks) < WINNOW_K + WINNOW_W - 1:
        assert fps == set()
        return
    all_hashes = {
        hashlib.md5(" ".join(toks[i : i + WINNOW_K]).encode()).hexdigest()[:8]
        for i in range(len(toks) - WINNOW_K + 1)
    }
    assert fps <= all_hashes
    assert fps  # at least one window ⇒ at least one selection


# --- interval overlap histogram ------------------------------------------------

# hours 0..5 with minute offsets: intervals cross several hour bins, so
# a pair can share MANY bins — the exactly-once ownership rule is load-bearing
_INTERVAL = st.tuples(
    st.integers(min_value=0, max_value=5),  # start hour
    st.integers(min_value=0, max_value=59),  # start minute
    st.integers(min_value=0, max_value=4),  # duration hours
    st.integers(min_value=0, max_value=59),  # duration minutes
)


# None = a NULL span (a session whose events all have a NULL ts): it
# overlaps nothing, is overlapped by nothing, and still lands in bucket 0
@given(ivs=st.lists(st.one_of(st.none(), _INTERVAL), min_size=1, max_size=10))
@SETTINGS
def test_interval_overlap_histogram_matches_brute_force(spark, ivs):
    from datetime import datetime, timedelta

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
        interval_overlap_histogram,
    )

    base = datetime(2026, 3, 1)
    spans = []
    for i, iv in enumerate(ivs):
        if iv is None:
            spans.append((i, 0, None, None))
            continue
        h, m, dh, dm = iv
        s = base + timedelta(hours=h, minutes=m)
        spans.append((i, 0, s, s + timedelta(hours=dh, minutes=dm)))
    df = spark.createDataFrame(spans, "user_id long, session_id long, s timestamp, e timestamp")
    got = {
        r.n_overlapping: r.n_sessions for r in interval_overlap_histogram(df).collect()
    }
    real = [(i, s, e) for i, (_, _, s, e) in enumerate(spans) if s is not None]
    counts = [
        sum(1 for j, s2, e2 in real if i != j and s1 <= e2 and s2 <= e1)
        if s1 is not None
        else 0
        for i, (_, _, s1, e1) in enumerate(spans)
    ]
    want: dict[int, int] = {}
    for c in counts:
        want[c] = want.get(c, 0) + 1
    assert got == want


# --- duplicate n-gram spans ------------------------------------------------------

# two-letter vocabulary, docs of 0..12 tokens, n=3: shared runs collide
# densely, overlapping duplicated grams are the COMMON case, and docs
# shorter than n must drop out via the shingle guard
_DOC = st.lists(st.sampled_from(["a", "b"]), max_size=12)


@given(docs=st.lists(_DOC, min_size=1, max_size=6))
@SETTINGS
def test_duplicate_span_stats_match_brute_force(spark, docs):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
        duplicate_span_stats,
    )

    n = 3
    feat = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, toks array<string>"
    )
    got = {
        r.doc_id: (r.n_tokens, r.dup_tokens)
        for r in duplicate_span_stats(feat, n).collect()
    }
    gram_docs: dict[tuple, set] = {}
    for d, toks in enumerate(docs):
        for i in range(len(toks) - n + 1):
            gram_docs.setdefault(tuple(toks[i : i + n]), set()).add(d)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    want = {}
    for d, toks in enumerate(docs):
        cov: set[int] = set()
        for i in range(len(toks) - n + 1):
            if tuple(toks[i : i + n]) in dup:
                cov.update(range(i, i + n))
        want[d] = (len(toks), len(cov))
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2), KEYS, st.integers(min_value=-5, max_value=5)),
        min_size=1,
        max_size=24,
    ),
    partitions=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_keyed_row_number_matches_window_for_any_partitioning(spark, rows, partitions):
    """The two-level keyed_row_number must equal the plain keyed window
    row_number for ANY data and ANY range-partition count — including
    partition counts larger than the data, single-row keys, negative order
    values, and keys that straddle partition boundaries.  Order tuples are
    made duplicate-free by appending a unique id (the helper's contract)."""
    from pyspark.sql import Window

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.skew import keyed_row_number

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v, _x) in enumerate(rows)], "k long, v long, uid long"
    )
    w = Window.partitionBy("k").orderBy("v", "uid")
    want = {
        (r["k"], r["uid"]): r["rn"]
        for r in df.select("k", "uid", F.row_number().over(w).alias("rn")).collect()
    }
    got = {
        (r["k"], r["uid"]): r["rn"]
        for r in keyed_row_number(df, ["k"], ["v", "uid"], "rn", partitions=partitions)
        .select("k", "uid", F.col("rn").cast("int").alias("rn"))
        .collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=-4, max_value=4)),
        min_size=1,
        max_size=20,
    ),
    partitions=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_global_row_number_matches_window_for_any_partitioning(spark, rows, partitions):
    from pyspark.sql import Window

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.skew import global_row_number

    df = spark.createDataFrame(
        [(v[0], i) for i, v in enumerate(rows)], "v long, uid long"
    )
    w = Window.orderBy("v", "uid")
    want = {
        r["uid"]: r["rn"]
        for r in df.select("uid", F.row_number().over(w).alias("rn")).collect()
    }
    got = {
        r["uid"]: r["rn"]
        for r in global_row_number(df, ["v", "uid"], "rn", partitions=partitions)
        .select("uid", F.col("rn").cast("int").alias("rn"))
        .collect()
    }
    assert got == want


@given(data=st.binary(max_size=200))
@settings(max_examples=300, deadline=None)
def test_decoders_reject_garbage_cleanly(data):
    """Pure-Python codecs must fail CLOSED on arbitrary bytes: a malformed
    payload raises ValueError / NotImplementedError (the documented
    contract a deployment catches per-record), never an IndexError /
    struct.error / OverflowError crash that would kill the Arrow batch."""
    import pytest

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.multimodal import (
        decode_audio,
        decode_image,
        parse_y4m,
    )

    for dec in (decode_image, decode_audio, parse_y4m):
        try:
            dec(data)
        except (ValueError, NotImplementedError):
            pass  # the contract
        # anything else propagates and fails the test


@given(
    header=st.sampled_from([b"P6", b"BM", b"RIFF", b"YUV4MPEG2"]),
    tail=st.binary(max_size=64),
)
@settings(max_examples=300, deadline=None)
def test_decoders_reject_truncated_magic_cleanly(header, tail):
    """Same contract when the MAGIC is right but the body is garbage — the
    dispatch path is entered and every header/size read must stay guarded."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.multimodal import (
        decode_audio,
        decode_image,
        parse_y4m,
    )

    data = header + tail
    for dec in (decode_image, decode_audio, parse_y4m):
        try:
            dec(data)
        except (ValueError, NotImplementedError):
            pass
