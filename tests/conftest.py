from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def tmp_stage(tmp_path, monkeypatch):
    """Stage root under the test's ``tmp_path``: a test that points queries
    at a ``tmp_path`` sf dir materializes there, so its source keys never
    outlive the dir in the repo's ``.stage/``."""
    root = tmp_path / "stage"
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(root))
    return root
