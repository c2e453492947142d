"""Staged tokenization frame (datapipe.stage): correctness of the cache
contract — staged results are byte-identical to the unstaged expressions,
rebuilds only happen when the source changes, and the key tracks the
source file's identity."""

from __future__ import annotations

import os

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.curate import (
    featurize_documents,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
    shingle_sets,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.stage import (
    _source_key,
    stage_root,
    staged_features,
    staged_shingles,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table

from .conftest import SF_SMOKE


def test_staged_features_match_unstaged(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    live = {r["doc_id"]: (r["fingerprint"], tuple(r["toks"]), r["n_bpe_tokens"])
            for r in featurize_documents(docs).collect()}
    staged = {r["doc_id"]: (r["fingerprint"], tuple(r["toks"]), r["n_bpe_tokens"])
              for r in staged_features(spark, SF_SMOKE).collect()}
    assert staged == live


def test_staged_shingles_match_unstaged(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    live = {(r["doc_id"], r["shingle"]) for r in shingle_sets(docs).collect()}
    staged = {(r["doc_id"], r["shingle"]) for r in staged_shingles(spark, SF_SMOKE).collect()}
    assert staged == live


def test_stage_is_reused_not_rebuilt(spark):
    staged_features(spark, SF_SMOKE)  # ensure built
    marker = os.path.join(
        stage_root(), _source_key(SF_SMOKE), "doc_features", "_SUCCESS"
    )
    assert os.path.exists(marker)
    before = os.stat(marker).st_mtime_ns
    staged_features(spark, SF_SMOKE)  # second call must be a pure read
    assert os.stat(marker).st_mtime_ns == before


def test_stage_key_tracks_source_identity(tmp_path):
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"x" * 16)
    k1 = _source_key(str(tmp_path))
    os.utime(src, ns=(1, 1))  # same bytes, new mtime → new key (cheap proxy)
    k2 = _source_key(str(tmp_path))
    assert k1 != k2


def test_warehouse_key_tracks_source_presence_and_identity(tmp_path):
    """The warehouse marker key follows the same file-identity rule as the
    stage key, and a missing source keys differently from a present one."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.warehouse import (
        _source_key as warehouse_key,
    )

    absent = warehouse_key(str(tmp_path), ("orders",))
    src = tmp_path / "orders.parquet"
    src.write_bytes(b"x" * 16)
    present = warehouse_key(str(tmp_path), ("orders",))
    os.utime(src, ns=(1, 1))
    touched = warehouse_key(str(tmp_path), ("orders",))
    assert len({absent, present, touched}) == 3
    assert warehouse_key(str(tmp_path), ("orders",)) == touched


def test_staged_ann_panels_equal_direct_probes(spark):
    """Each staged ANN panel (what the recall monitor reads) must be
    byte-identical to running its index probe directly — the stage is a
    cache, never a source of truth — and the stage key must fold the index
    geometry so retuning a tier invalidates its panel."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
        ANN_METHODS,
        ann_geometry_key,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.stage import (
        staged_ann_method_topk,
    )

    assert len(ann_geometry_key()) == 12
    for method, fn in ANN_METHODS:
        staged = sorted(map(tuple, staged_ann_method_topk(spark, SF_SMOKE, method).collect()))
        direct = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
        assert staged == direct, method
