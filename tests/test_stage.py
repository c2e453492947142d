"""Staged tokenization frame (datapipe.stage) and the materialize rule it
shares with the bucketed warehouses (sources.tables.materialize):
correctness of the cache contract — staged results are byte-identical to
the unstaged expressions, rebuilds only happen when the source or the
building code changes, the key tracks the source file's identity and
exactly the code each stage or warehouse reaches, and a rebuild deletes
only the directory it supersedes."""

from __future__ import annotations

import ast
import contextlib
import os
import shutil
from urllib.parse import urlparse

import pytest

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark import registry
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe import stage
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.curate import (
    featurize_documents,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
    shingle_sets,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import ANN_METHODS
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.stage import (
    staged_features,
    staged_shingles,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table, tables, warehouse
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import source_key, stage_root

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
    files = staged_features(spark, SF_SMOKE).inputFiles()  # ensure built
    stage_dir = {os.path.dirname(urlparse(f).path) for f in files}
    assert len(stage_dir) == 1
    marker = os.path.join(stage_dir.pop(), "_SUCCESS")
    assert marker.startswith(stage_root())
    assert os.path.exists(marker)
    before = os.stat(marker).st_mtime_ns
    staged_features(spark, SF_SMOKE)  # second call must be a pure read
    assert os.stat(marker).st_mtime_ns == before


def test_stage_key_tracks_source_identity(tmp_path):
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"x" * 16)
    k1 = source_key(str(tmp_path), "documents")
    os.utime(src, ns=(1, 1))  # same bytes, new mtime → new key (cheap proxy)
    k2 = source_key(str(tmp_path), "documents")
    assert k1 != k2


def test_warehouse_key_tracks_source_presence_and_identity(tmp_path):
    """The warehouse tables are keyed by the stages' source key, and a
    missing source keys differently from a present one."""
    absent = source_key(str(tmp_path), "orders")
    src = tmp_path / "orders.parquet"
    src.write_bytes(b"x" * 16)
    present = source_key(str(tmp_path), "orders")
    os.utime(src, ns=(1, 1))
    touched = source_key(str(tmp_path), "orders")
    assert len({absent, present, touched}) == 3
    assert source_key(str(tmp_path), "orders") == touched


def test_staged_ann_panels_equal_direct_probes(spark):
    """Each staged ANN panel (what the recall monitor reads) must be
    byte-identical to running its index probe directly — the stage is a
    cache, never a source of truth — and each panel is keyed by its own
    probe's code (``test_stage_keys_follow_reachable_code``)."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.stage import (
        staged_ann_method_topk,
    )

    for method, fn in ANN_METHODS:
        staged = sorted(map(tuple, staged_ann_method_topk(spark, SF_SMOKE, method).collect()))
        direct = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
        assert staged == direct, method


def stage_calls(spark):
    """One call per ``staged_*`` function, the ANN panel once per method."""
    for name in dir(stage):
        if name == "staged_ann_method_topk":
            for method, _fn in ANN_METHODS:
                yield lambda m=method: stage.staged_ann_method_topk(spark, SF_SMOKE, m)
        elif name.startswith("staged_"):
            yield lambda f=getattr(stage, name): f(spark, SF_SMOKE)


def materialized_builders(monkeypatch) -> dict[str, object]:
    """Artifact name -> the builder the shared materialize rule keys it by,
    for every stage and both warehouses, without building.  The trip
    warehouse records as ``wh_lineitem``: its orders side has the same
    builder."""
    builders = {}

    class Recorded(Exception):
        pass

    def record(sf_dir, table, name, builder, write, force=False):
        builders[name] = builder
        raise Recorded

    monkeypatch.setattr(stage, "materialize", record)
    monkeypatch.setattr(warehouse, "materialize", record)
    calls = [*stage_calls(None),
             lambda: warehouse.build_trip_warehouse(None, SF_SMOKE),
             lambda: warehouse.build_events_warehouse(None, SF_SMOKE)]
    for call in calls:
        with contextlib.suppress(Recorded):
            call()
    return builders


TFIDF = {"tfidf_topk", "tfidf_sim_cand", "tfidf_doc_vecs"}


@pytest.mark.parametrize(
    ("module", "old", "new", "moved"),
    [
        ("datapipe/curate.py", '"source",\n        F.md5(', '"source",\n        F.sha1(',
         {"doc_features", "doc_shingles", "doc_segments", "jaccard_pairs", *TFIDF}),
        ("datapipe/curate.py", "ONE parquet scan and ONE tokenization",
         "one parquet scan and one tokenization", set()),
        ("datapipe/textstats.py", "QUALITY_WEIGHTS = (-2.0,", "QUALITY_WEIGHTS = (-2.5,",
         {"quality_scores"}),
        ("datapipe/textstats.py", "TFIDF_TOP_K = 5\n", "TFIDF_TOP_K = 6\n", TFIDF),
        ("datapipe/similarity.py", "LSH_BITS = 6 ", "LSH_BITS = 7 ", {"ann_lsh_topk"}),
        ("datapipe/similarity.py", "IVF_KMEANS_ITERS = 8\n", "IVF_KMEANS_ITERS = 9\n",
         {"ann_ivf_topk", "ann_ivfpq_topk"}),
        ("datapipe/similarity.py", "PQ_KMEANS_ITERS = 8\n", "PQ_KMEANS_ITERS = 9\n",
         {"ann_pq_topk", "ann_ivfpq_topk"}),
        ("datapipe/multimodal.py", "VPH_STRIDE = 2 ", "VPH_STRIDE = 3 ", {"video_phash"}),
        ("datapipe/boilerplate.py", "SEG_TOKENS = 16\n", "SEG_TOKENS = 12\n", {"doc_segments"}),
        ("datapipe/dedup.py", "COSINE_DUP_THRESHOLD = 0.45 ", "COSINE_DUP_THRESHOLD = 0.5 ",
         {"embedding_pairs"}),
        ("sources/sinks.py", "df.repartition(n_buckets, F.col(bucket_by))",
         "df.repartition(n_buckets, bucket_by)", {"wh_lineitem", "wh_events"}),
    ],
    ids=["featurize_body", "featurize_doc", "quality_weights", "tfidf_top_k", "lsh_bits",
         "ivf_kmeans_iters", "pq_kmeans_iters", "vph_stride", "seg_tokens", "cosine_dup_threshold",
         "write_bucketed_table"],
)
def test_stage_keys_follow_reachable_code(tmp_path, monkeypatch, module, old, new, moved):
    """An edit to a copy of the package re-keys exactly the stages and
    warehouses whose builder reaches the edited def or constant; a
    docstring edit re-keys none."""
    builders = materialized_builders(monkeypatch)
    path = os.path.join(registry.PACKAGE_DIR, module)
    with open(path) as f:
        src = f.read()
    assert src.count(old) == 1, old
    root = tmp_path / "pkg"
    shutil.copytree(registry.PACKAGE_DIR, root, ignore=shutil.ignore_patterns("__pycache__"))
    (root / module).write_text(src.replace(old, new))
    before = {n: registry.code_fingerprint(b) for n, b in builders.items()}
    after = {n: registry.code_fingerprint(b, str(root)) for n, b in builders.items()}
    assert {n for n in builders if before[n] != after[n]} == moved


def test_stage_key_survives_a_module_without_docstring(tmp_path, monkeypatch):
    """A module with no module-level expression keys its stages as usual:
    dropping ``stage.py``'s docstring moves no key."""
    builders = materialized_builders(monkeypatch)
    root = tmp_path / "pkg"
    shutil.copytree(registry.PACKAGE_DIR, root, ignore=shutil.ignore_patterns("__pycache__"))
    path = root / "datapipe" / "stage.py"
    lines = path.read_text().splitlines(keepends=True)
    path.write_text("".join(lines[ast.parse("".join(lines)).body[0].end_lineno:]))
    for name, build in builders.items():
        assert registry.code_fingerprint(build, str(root)) == registry.code_fingerprint(build), name


def test_package_is_parsed_once_for_queries_and_stages(spark, monkeypatch):
    """``load_all()`` and every stage key share one parse of the package."""
    parses = []
    parse = ast.parse
    monkeypatch.setattr(ast, "parse", lambda *a, **k: parses.append(1) or parse(*a, **k))
    registry._walk.cache_clear()
    registry.load_all()
    for call in stage_calls(spark):
        call()
    n_files = sum(f.endswith(".py") for _d, _s, fs in os.walk(registry.PACKAGE_DIR) for f in fs)
    assert len(parses) == n_files
    assert registry._walk.cache_info().misses == 1


def test_rebuild_prunes_only_its_superseded_sibling(tmp_stage, monkeypatch):
    """A re-keyed rebuild deletes the ``<name>_*`` directory it supersedes;
    another name (even one that extends this name) and the same name under
    another source key are left alone."""
    monkeypatch.setattr(tables, "code_fingerprint", lambda fn: fn.__name__)

    def v1():
        pass

    def v2():
        pass

    def write(path: str) -> None:
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    old = tables.materialize(SF_SMOKE, "documents", "frame", v1, write)
    kept = [tables.materialize(SF_SMOKE, "documents", "frame_wide", v1, write),
            tables.materialize(SF_SMOKE, "events", "frame", v1, write)]
    new = tables.materialize(SF_SMOKE, "documents", "frame", v2, write)
    assert old.startswith(str(tmp_stage)) and os.path.basename(old) == "frame_v1"
    assert not os.path.exists(old)
    assert os.path.exists(new)
    assert all(os.path.exists(path) for path in kept)
