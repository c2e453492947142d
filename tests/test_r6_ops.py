"""Round-6 additions: stupid-backoff bigram LM scoring, winnowing
fingerprints, throttle-style event dedup, explicit Bloom prefilter.
Oracle parity runs in tools/check_oracle.py; these tests pin the semantics
against pure-Python references on the smoke data and the invariants the
differential check can't express (Bloom = exact semi-join, winnowing's
shared-run guarantee)."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

import pandas as pd

from tests.conftest import SF_SMOKE

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.lm import (
    BACKOFF,
    q_bigram_backoff_logprob,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
    WINNOW_K,
    WINNOW_W,
    q_winnowing_fingerprints,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
    THROTTLE_GAP_S,
    q_events_throttle_dedup,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.olap import (
    q_bloom_prefilter_urgent_revenue,
)


def _tokens(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.strip().lower()).split(" ")


def _docs() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/documents.parquet")


# --- bigram stupid backoff ---------------------------------------------------


def test_bigram_backoff_matches_python_reference(spark):
    docs = _docs()
    uni: Counter = Counter()
    big: Counter = Counter()
    for _, r in docs.iterrows():
        t = _tokens(r.text)
        if r.doc_id % 2 == 0:
            uni.update(t)
            big.update(zip(t, t[1:]))
    n, v = sum(uni.values()), len(uni)
    expected = {}
    for _, r in docs.iterrows():
        t = _tokens(r.text)
        pairs = list(zip(t, t[1:]))
        if not pairs:
            continue
        s = 0.0
        for w1, w2 in pairs:
            if (w1, w2) in big:
                s += math.log(big[(w1, w2)] / uni[w1])
            else:
                s += math.log(BACKOFF * (uni.get(w2, 0) + 1.0) / (n + v))
        expected[r.doc_id] = (len(pairs), s / len(pairs))
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logprob)
        for r in q_bigram_backoff_logprob(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    for doc_id, (n_bg, lp) in expected.items():
        assert got[doc_id][0] == n_bg
        assert abs(got[doc_id][1] - lp) < 2e-9, doc_id


def test_bigram_backoff_path_actually_taken(spark):
    """The held-out split must exercise BOTH scoring branches, or the
    operator degenerates to an ML-estimate bigram LM."""
    docs = _docs()
    big = set()
    for _, r in docs[docs.doc_id % 2 == 0].iterrows():
        t = _tokens(r.text)
        big.update(zip(t, t[1:]))
    unseen = 0
    for _, r in docs[docs.doc_id % 2 == 1].iterrows():
        t = _tokens(r.text)
        unseen += sum(1 for p in zip(t, t[1:]) if p not in big)
    assert unseen > 0


# --- winnowing ---------------------------------------------------------------


def _py_winnow(tokens: list[str]) -> set[str]:
    if len(tokens) < WINNOW_K + WINNOW_W - 1:
        return set()
    hs = [
        hashlib.md5(" ".join(tokens[i : i + WINNOW_K]).encode()).hexdigest()[:8]
        for i in range(len(tokens) - WINNOW_K + 1)
    ]
    return {min(hs[j : j + WINNOW_W]) for j in range(len(hs) - WINNOW_W + 1)}


def test_winnowing_matches_python_reference(spark):
    expected = set()
    for _, r in _docs().iterrows():
        for fp in _py_winnow(_tokens(r.text)):
            expected.add((r.doc_id, fp))
    got = {
        (r.doc_id, r.fingerprint)
        for r in q_winnowing_fingerprints(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_winnowing_shared_run_guarantee():
    """Schleimer et al.'s guarantee, pinned on the reference implementation:
    two token streams sharing a run of K+W-1 tokens share a fingerprint."""
    shared = [f"s{i}" for i in range(WINNOW_K + WINNOW_W - 1)]
    a = ["alpha", "beta", *shared, "gamma"]
    b = ["delta", *shared, "epsilon", "zeta"]
    assert _py_winnow(a) & _py_winnow(b)


# --- throttle dedup ----------------------------------------------------------


def test_throttle_dedup_matches_python_reference(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    keep = set()
    for _, g in ev.groupby(["user_id", "event_type"]):
        g = g.sort_values(["ts", "event_id"])
        prev = None
        for _, r in g.iterrows():
            if prev is None or (r.ts - prev).total_seconds() > THROTTLE_GAP_S:
                keep.add(r.event_id)
            prev = r.ts
    got = {r.event_id for r in q_events_throttle_dedup(spark, SF_SMOKE).collect()}
    assert got == keep
    assert len(got) < len(ev)  # the smoke stream does contain bursts


# --- bloom prefilter ---------------------------------------------------------


def test_bloom_prefilter_equals_exact_semijoin(spark):
    """False positives are confirmed away: the Bloom-prefiltered aggregate
    equals the plain semi-join aggregate exactly."""
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    urgent = set(orders[orders.o_orderpriority == "1-URGENT"].o_orderkey)
    m = li[li.l_orderkey.isin(urgent)]
    row = q_bloom_prefilter_urgent_revenue(spark, SF_SMOKE).collect()[0]
    assert row.n_lines == len(m)
    expected_rev = float(
        sum(
            round(p, 2) * (1 - round(d, 2))
            for p, d in zip(m.l_extendedprice, m.l_discount)
        )
    )
    assert abs(row.revenue - expected_rev) < 1e-6 * max(1.0, abs(expected_rev))


# --- product quantization ----------------------------------------------------


def test_pq_encoder_matches_numpy_reference(spark):
    """The distributed encoder must produce exactly the codes the trained
    codebooks imply (nearest sub-centroid per subspace, L2 on unit-norm)."""
    import numpy as np

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
        pq_encode,
        train_pq_codebooks,
        training_sample,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    books = train_pq_codebooks(training_sample(emb, emb.count()))
    m, ksub, dsub = books.shape
    pdf = emb.toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    want = {}
    for vid, v in zip(pdf["vec_id"], vecs):
        codes = []
        for j in range(m):
            sub = v[j * dsub : (j + 1) * dsub]
            codes.append(int(np.argmin(((books[j] - sub) ** 2).sum(axis=1))))
        want[vid] = codes
    got = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    assert got == want


def test_pq_kernels_load_where_the_package_is_not_importable():
    """The encode and ADC-scan kernels call the shared PQ helpers; a Python
    worker must load them without importing this package (cloudpickle
    ships ``<locals>`` functions by value, a module-level def by name)."""
    import os
    import subprocess
    import sys

    import numpy as np
    import pytest
    from pyspark import cloudpickle

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe import similarity

    kernels = []

    class Captured(Exception):
        pass

    class Frame:
        def select(self, *cols):
            return self

        def mapInPandas(self, fn, schema):
            kernels.append(fn)
            raise Captured

    books = np.zeros((2, 3, 4))
    for build in (
        lambda: similarity.pq_encode(Frame(), books),
        lambda: similarity.adc_shortlist(Frame(), np.arange(2), np.zeros((2, 2, 3)), 5),
    ):
        with pytest.raises(Captured):
            build()
    load = "import pickle, sys; pickle.loads(sys.stdin.buffer.read())"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    for fn in kernels:
        run = subprocess.run(
            [sys.executable, "-c", load], input=cloudpickle.dumps(fn), capture_output=True,
            cwd="/", env=env,
        )
        assert run.returncode == 0, run.stderr.decode()[-500:]


def test_pq_topk_recall_floor(spark):
    """ADC shortlist + exact re-rank must recover most of the brute-force
    top-k (PQ quantization error bounds recall below 1.0)."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
        N_QUERIES,
        TOP_K,
        cosine_topk,
        pq_topk_detail,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter("vec_id < %d" % N_QUERIES)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, TOP_K).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in pq_topk_detail(spark, SF_SMOKE).collect()}
    assert len(got) == len(truth)  # k results per query either way
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, recall


def test_winnow_candidate_pairs_match_python_reference(spark):
    from collections import Counter, defaultdict

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        WINNOW_DF_CAP,
        WINNOW_SHARED_MIN,
        q_winnow_candidate_pairs,
    )

    doc_fps = {r.doc_id: _py_winnow(_tokens(r.text)) for _, r in _docs().iterrows()}
    df = Counter(fp for fps in doc_fps.values() for fp in fps)
    by_fp = defaultdict(list)
    for d, fps in doc_fps.items():
        for fp in fps:
            if df[fp] <= WINNOW_DF_CAP:
                by_fp[fp].append(d)
    shared = Counter()
    for docs in by_fp.values():
        docs = sorted(docs)
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                shared[(a, b)] += 1
    want = {p: c for p, c in shared.items() if c >= WINNOW_SHARED_MIN}
    got = {
        (r.doc_a, r.doc_b): r.shared_fingerprints
        for r in q_winnow_candidate_pairs(spark, SF_SMOKE).collect()
    }
    assert got == want


# --- seasonal decomposition --------------------------------------------------


def test_dow_decomposition_matches_pandas_reference(spark):
    import numpy as np

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        DECOMP_HALF_WIDTH,
        q_daily_dow_decomposition,
    )

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    daily = ev.groupby(ev.ts.dt.date).size()
    idx = pd.date_range(daily.index.min(), daily.index.max(), freq="D").date
    dense = daily.reindex(idx, fill_value=0).astype(float)
    trend = dense.rolling(2 * DECOMP_HALF_WIDTH + 1, center=True, min_periods=1).mean()
    detr = dense - trend
    dows = pd.Series([d.weekday() for d in idx], index=idx)
    seasonal = detr.groupby(dows).transform("mean")
    resid = dense - trend - seasonal
    got = {r.day: (r.n_events, r.trend, r.seasonal, r.residual)
           for r in q_daily_dow_decomposition(spark, SF_SMOKE).collect()}
    assert set(got) == set(idx)
    for d in idx:
        n, t, s, r = got[d]
        assert n == dense[d]
        assert abs(t - trend[d]) < 2e-9
        assert abs(s - seasonal[d]) < 2e-9
        assert abs(r - resid[d]) < 4e-9
    # decomposition identity: components sum back to the observation
    for d in idx:
        n, t, s, r = got[d]
        assert abs((t + s + r) - n) < 1e-8


# --- weighted median ---------------------------------------------------------


def test_weighted_median_discount_matches_python_reference(spark):
    from decimal import Decimal

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.analytics import (
        q_revenue_weighted_median_discount,
    )

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    want = {}
    for flag, g in li.groupby("l_returnflag"):
        rev_by_disc = {}
        for p, d in zip(g.l_extendedprice, g.l_discount):
            r = Decimal(str(round(p, 2))) * (1 - Decimal(str(round(d, 2))))
            rev_by_disc[d] = rev_by_disc.get(d, Decimal(0)) + r
        tot = sum(rev_by_disc.values())
        cum = Decimal(0)
        for d in sorted(rev_by_disc):
            cum += rev_by_disc[d]
            if 2 * cum >= tot:
                want[flag] = d
                break
    got = {
        r.flag: r.weighted_median_discount
        for r in q_revenue_weighted_median_discount(spark, SF_SMOKE).collect()
    }
    assert got == want
    # weighted ≠ plain median in general; at minimum it must be a real
    # discount level present under the flag
    for flag, d in got.items():
        assert d in set(li[li.l_returnflag == flag].l_discount)
