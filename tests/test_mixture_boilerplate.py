"""Unit semantics for the round-4 curation operators: dataset-mixture
temperature weights, deterministic resampling, and CCNet-style boilerplate
segment dedup.  (DuckDB parity for all four registered queries is covered
by ``test_oracle_parity``; these pin the math on hand-built frames.)"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.boilerplate import (
    BOILERPLATE_MIN_DOCS,
    SEG_TOKENS,
    segment_frequencies,
    segment_table,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.mixture import (
    mixture_weights,
    source_token_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_mixture_weights_temperature_flattens(spark):
    """α<1 must over-sample the small source (epochs>1) and under-sample the
    big one (epochs<1); weights sum to 1."""
    docs = _docs(
        spark,
        [
            {"doc_id": 0, "source": "big", "text": " ".join(["w"] * 90)},
            {"doc_id": 1, "source": "small", "text": " ".join(["w"] * 10)},
        ],
    )
    out = {r["source"]: r for r in mixture_weights(docs).collect()}
    assert math.isclose(out["big"]["weight"] + out["small"]["weight"], 1.0, abs_tol=1e-9)
    assert out["big"]["p_natural"] == pytest.approx(0.9)
    # 90^0.7 / (90^0.7 + 10^0.7) ≈ 0.825 < 0.9 natural share
    assert out["big"]["weight"] < out["big"]["p_natural"]
    assert out["small"]["epochs"] > 1.0 > out["big"]["epochs"]
    # α=1 reproduces the natural mix exactly
    nat = {r["source"]: r for r in mixture_weights(docs, alpha=1.0).collect()}
    assert nat["big"]["weight"] == pytest.approx(nat["big"]["p_natural"], abs=1e-12)


def test_source_token_stats_counts_whitespace_tokens(spark):
    docs = _docs(
        spark,
        [
            {"doc_id": 0, "source": "a", "text": "x  y\tz"},
            {"doc_id": 1, "source": "a", "text": "one"},
        ],
    )
    row = source_token_stats(docs).collect()[0]
    assert (row["n_docs"], row["n_tokens"]) == (2, 4)


def test_segment_table_width_and_order(spark):
    """Banner occupies segment 0 exactly; remaining tokens chunk by
    SEG_TOKENS with the tail ragged."""
    text = " ".join(f"t{i}" for i in range(SEG_TOKENS + 3))
    docs = _docs(spark, [{"doc_id": 7, "source": "s1", "text": text}])
    segs = sorted(segment_table(docs).collect(), key=lambda r: r["seg_idx"])
    assert [r["seg_idx"] for r in segs] == [0, 1, 2]
    assert segs[0]["seg"].startswith("all rights reserved visit the s1 portal")
    assert len(segs[0]["seg"].split(" ")) == SEG_TOKENS
    assert segs[1]["seg"] == " ".join(f"t{i}" for i in range(SEG_TOKENS))
    assert segs[2]["seg"] == f"t{SEG_TOKENS} t{SEG_TOKENS + 1} t{SEG_TOKENS + 2}"


def test_boilerplate_frequency_counts_distinct_docs(spark):
    """df counts distinct documents, not occurrences: the shared banner of
    N same-source docs has df=N, a segment repeated twice inside ONE doc
    has df=1 (intra-doc repetition is the repetition gate's job, not
    boilerplate's)."""
    body = " ".join(["self"] * SEG_TOKENS)
    docs = _docs(
        spark,
        [{"doc_id": i, "source": "s", "text": body + " " + body} for i in range(BOILERPLATE_MIN_DOCS)],
    )
    freq = {
        r["h"]: r
        for r in segment_frequencies(segment_table(docs)).collect()
    }
    dfs = sorted((r["df"], r["occurrences"]) for r in freq.values())
    # banner: df=4 occ=4; body segment: df=4 occ=8 (twice per doc)
    assert dfs == [(BOILERPLATE_MIN_DOCS, BOILERPLATE_MIN_DOCS), (BOILERPLATE_MIN_DOCS, 2 * BOILERPLATE_MIN_DOCS)]


def test_boilerplate_dedup_reassembles_in_order(spark, tmp_stage):
    """End-to-end on a hand-built corpus: the shared banner is removed from
    every doc, unique bodies survive verbatim, and a doc whose every
    segment is boilerplate comes back empty (not dropped)."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.boilerplate import (
        q_boilerplate_segment_dedup,
    )
    import tempfile

    uniq = [" ".join(f"u{d}w{i}" for i in range(SEG_TOKENS)) for d in range(BOILERPLATE_MIN_DOCS)]
    rows = [
        Row(doc_id=d, source="s", text=uniq[d], lang="en", n_chars=1)
        for d in range(BOILERPLATE_MIN_DOCS)
    ]
    # doc 99 is banner-only: its single segment is the shared banner
    rows.append(Row(doc_id=99, source="s", text="", lang="en", n_chars=0))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).write.parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in q_boilerplate_segment_dedup(spark, d).collect()}
    for doc in range(BOILERPLATE_MIN_DOCS):
        assert out[doc]["n_removed"] == 1
        assert out[doc]["kept_text"] == uniq[doc]
    # doc 99 normalizes to exactly the shared banner segment → fully
    # removed, but the doc still appears with an empty kept_text
    assert out[99]["kept_text"] == ""
    assert out[99]["n_removed"] == 1


def test_unigram_cross_entropy_hand_computed(spark, tmp_path, tmp_stage):
    """Two docs, vocab {a:3, b:1}: p(a)=(3+1)/(4+2), p(b)=(1+1)/(4+2).
    doc0 = 'a a a' → H = -ln(2/3); doc1 = 'b' → H = -ln(1/3)."""
    import math
    from pyspark.sql import Row
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.lm import (
        q_unigram_logppl,
    )

    rows = [
        Row(doc_id=0, text="a a a", lang="en", source="s", n_chars=5),
        Row(doc_id=1, text="b", lang="en", source="s", n_chars=1),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in q_unigram_logppl(spark, str(tmp_path)).collect()}
    assert out[0]["cross_entropy"] == pytest.approx(-math.log(4 / 6), abs=1e-9)
    assert out[1]["cross_entropy"] == pytest.approx(-math.log(2 / 6), abs=1e-9)
    # rare-token doc scores strictly worse (higher)
    assert out[1]["cross_entropy"] > out[0]["cross_entropy"]


def test_vocab_coverage_counts_hits(spark, tmp_path, tmp_stage):
    from pyspark.sql import Row
    import bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.lm as lm

    rows = [
        Row(doc_id=0, text="x x y rare1 rare2", lang="en", source="s", n_chars=1),
        Row(doc_id=1, text="x y", lang="en", source="s", n_chars=1),
    ]
    spark.createDataFrame(rows).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in lm.q_vocab_coverage(spark, str(tmp_path)).collect()}
    # top-500 easily includes all terms here → full coverage
    assert out[0]["coverage"] == pytest.approx(1.0)
    assert out[0]["in_vocab"] == 5 and out[0]["n_tokens"] == 5


def test_shard_manifest_dense_positions_and_determinism(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.mixture import (
        N_SHARDS,
        q_training_shard_manifest,
    )

    sf = "/root/testdata/sf0.001"
    a = q_training_shard_manifest(spark, sf).collect()
    b = q_training_shard_manifest(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r["shard"] < N_SHARDS
        by_shard.setdefault(r["shard"], []).append(r["position"])
    # positions are dense 1..n within every shard (a loader can seek by step)
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), shard
    assert len(by_shard) == N_SHARDS
