"""The shared measurement harness (tools/harness.py): replica synthesis,
plan counting, and that every timing tool still imports."""

from __future__ import annotations

import importlib.util
import os
import re
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE as SRC
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import TABLE_NAMES
from tools.harness import _KEEP, REPLICA_TRANSFORMS, env_cpus, plan_stats, replicate

REPO = Path(__file__).resolve().parent.parent
REPLICAS = 3
ID_COLUMNS = {
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
    "customer": ("c_custkey",),
    "orders": ("o_orderkey", "o_custkey"),
}


def _replicas(tmp_path, table: str, replicas: int = REPLICAS):
    replicate((table,), str(tmp_path), SRC, replicas)
    src = pq.read_table(os.path.join(SRC, f"{table}.parquet"))
    out = pq.read_table(tmp_path / f"{table}.parquet")
    n = src.num_rows
    return src, [out.slice(k * n, n) for k in range(replicas)], out


@pytest.mark.parametrize("table", sorted(REPLICA_TRANSFORMS))
def test_replicate_shape_schema_and_replica_zero(tmp_path, table):
    src, parts, out = _replicas(tmp_path, table)
    assert out.num_rows == src.num_rows * REPLICAS
    assert out.schema.equals(src.schema)
    assert parts[0].equals(src)


@pytest.mark.parametrize("table", sorted(REPLICA_TRANSFORMS))
def test_replica_ids_do_not_overlap(tmp_path, table):
    _src, parts, _out = _replicas(tmp_path, table)
    for col in ID_COLUMNS[table]:
        id_sets = [set(part[col].to_pylist()) for part in parts]
        assert sum(map(len, id_sets)) == len(set().union(*id_sets)), col


def test_document_replicas_suffix_only_content_tokens(tmp_path):
    src, parts, _out = _replicas(tmp_path, "documents")
    texts = src["text"].to_pylist()
    for k, part in enumerate(parts[1:], start=1):
        for before, after in zip(texts, part["text"].to_pylist()):
            want = [t if t in _KEEP else f"{t}{k}" for t in before.split()]
            assert after.split() == want
        assert part["n_chars"].to_pylist() == [len(t) for t in part["text"].to_pylist()]


def test_embedding_replicas_keep_row_norms(tmp_path):
    # 66 replicas over 64 dims: the last two also flip signs
    src, parts, _out = _replicas(tmp_path, "embeddings", replicas=66)
    norms = np.linalg.norm(np.asarray(src["embedding"].to_pylist()), axis=1)
    for k in (1, 64, 65):
        vecs = np.asarray(parts[k]["embedding"].to_pylist())
        assert np.allclose(np.linalg.norm(vecs, axis=1), norms, rtol=1e-6)
        assert not np.array_equal(vecs, np.asarray(parts[0]["embedding"].to_pylist()))


def test_customer_replica_names_end_in_repeated_digits(tmp_path):
    src, parts, _out = _replicas(tmp_path, "customer")
    names = src["c_name"].to_pylist()
    for k, part in enumerate(parts[1:], start=1):
        d1, d2 = divmod(k, 10)
        assert part["c_name"].to_pylist() == [f"{nm}{d1}{d1}{d2}{d2}" for nm in names]


@pytest.mark.parametrize("table", ["events", "orders"])
def test_fact_replicas_keep_non_id_columns_verbatim(tmp_path, table):
    src, parts, _out = _replicas(tmp_path, table)
    ids = list(ID_COLUMNS[table])
    for part in parts:
        assert part.drop_columns(ids).equals(src.drop_columns(ids))


def test_replicate_rewrites_only_when_the_source_moves(tmp_path):
    src_dir, out_dir = tmp_path / "src", tmp_path / "out"
    src_dir.mkdir()
    src_path = src_dir / "events.parquet"
    shutil.copy(os.path.join(SRC, "events.parquet"), src_path)
    out_path = out_dir / "events.parquet"

    replicate(("events",), str(out_dir), str(src_dir), REPLICAS)
    os.utime(out_path, ns=(1_000_000_000, 1_000_000_000))  # any rewrite now shows
    replicate(("events",), str(out_dir), str(src_dir), REPLICAS)
    assert out_path.stat().st_mtime_ns == 1_000_000_000

    st = src_path.stat()
    os.utime(src_path, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))
    replicate(("events",), str(out_dir), str(src_dir), REPLICAS)
    assert out_path.stat().st_mtime_ns != 1_000_000_000


def test_replicate_rewrites_when_a_kept_token_set_moves(tmp_path, monkeypatch):
    # _KEEP comes from the package's STOPWORDS / LANG_MARKERS, outside the
    # harness source, and decides every document replica's text
    from tools import harness

    out_path = tmp_path / "documents.parquet"
    replicate(("documents",), str(tmp_path), SRC, REPLICAS)
    os.utime(out_path, ns=(1_000_000_000, 1_000_000_000))
    monkeypatch.setattr(harness, "_KEEP", _KEEP - {"the"})
    replicate(("documents",), str(tmp_path), SRC, REPLICAS)
    assert out_path.stat().st_mtime_ns != 1_000_000_000
    texts = pq.read_table(out_path).slice(pq.read_metadata(SRC + "/documents.parquet").num_rows)
    assert "the" not in " ".join(texts["text"].to_pylist()).split()


def test_replicate_makes_a_complete_sf_dir(tmp_path):
    # a scale point is read like any sf dir (warm_up touches every table),
    # so the tables it does not replicate are linked from the source
    src_dir = tmp_path / "src"
    shutil.copytree(SRC, src_dir)
    before = {t: (src_dir / f"{t}.parquet").read_bytes() for t in TABLE_NAMES}
    out_dir = tmp_path / "out"

    replicate(("events",), str(out_dir), str(src_dir), REPLICAS)
    for table in TABLE_NAMES:
        out_path = out_dir / f"{table}.parquet"
        assert out_path.exists(), table
        assert out_path.is_symlink() == (table != "events"), table
        assert pq.read_table(out_path).num_rows > 0

    # replicating a linked table replaces the link and never writes
    # through it into the source
    replicate(("documents",), str(out_dir), str(src_dir), REPLICAS)
    assert not (out_dir / "documents.parquet").is_symlink()
    assert not (out_dir / "events.parquet").is_symlink()
    assert {t: (src_dir / f"{t}.parquet").read_bytes() for t in TABLE_NAMES} == before


def test_env_cpus_defaults_to_the_usable_cores(monkeypatch):
    """``$SPARK_GRAFT_CPUS`` wins when set; unset or empty, the count is the
    cores this process may run on, never a fixed 32."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert env_cpus() == 3
    for unset in (lambda: monkeypatch.setenv("SPARK_GRAFT_CPUS", ""),
                  lambda: monkeypatch.delenv("SPARK_GRAFT_CPUS")):
        unset()
        assert env_cpus() == len(os.sched_getaffinity(0))


def test_plan_stats_counts_each_exchange_once(spark):
    from pyspark.sql import functions as F

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.plans import plan_string

    plan = plan_string(spark.range(100).groupBy((F.col("id") % 3).alias("g")).count())
    assert plan_stats(plan)["shuffle"] == 1
    # the formatted plan prints the node twice: in the tree and as its
    # "(N) Exchange" detail header — matching both double-counts
    tree_and_header = [
        line for line in plan.splitlines()
        if re.sub(r"^[\s:+\-*]*(?:\(\d+\)\s*)?", "", line).startswith("Exchange")
    ]
    assert len(tree_and_header) == 2


@pytest.mark.parametrize(
    "path", ["bench.py", *sorted(p.relative_to(REPO).as_posix() for p in (REPO / "tools").glob("*.py"))]
)
def test_tool_imports(path):
    name = "_import_check_" + re.sub(r"\W", "_", path)
    spec = importlib.util.spec_from_file_location(name, REPO / path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert hasattr(module, "main") or path == "tools/harness.py"
