"""Differential testing against DuckDB — the same check the driver runs.

Every SQL-expressible query must match its oracle on row count, column set,
and order-insensitive values (bit-identical doubles; see
``functions.scalar`` for why that's achievable).  Runs at sf0.001 for speed;
the driver repeats it at sf0.01.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import TABLE_NAMES

from .conftest import SF_SMOKE

REGISTRY = load_all()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_SMOKE}/{name}.parquet')"
        )
    yield con
    con.close()


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        return str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", [n for n, s in REGISTRY.items() if s.oracle])
def test_oracle_parity(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_SMOKE)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.execute(spec.oracle)
    ocols = [d[0] for d in rel.description]
    orows = rel.fetchall()
    assert len(srows) == len(orows), f"{name}: rowcount {len(srows)} != {len(orows)}"
    assert sorted(c.lower() for c in sdf.columns) == sorted(c.lower() for c in ocols)
    assert _normalize(srows, sdf.columns) == _normalize(orows, ocols)


@pytest.mark.parametrize("name", [n for n, s in REGISTRY.items() if not s.oracle])
def test_rows_only_queries_run(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_SMOKE)
    assert df.count() >= 0


def test_session_overlap_histogram_matches_oracle_with_null_ts(spark, tmp_path, tmp_stage):
    """Events whose ts is NULL each form a session with a NULL span, which
    overlaps nothing and must still land in bucket 0.  Today's oracle data
    has no NULL ts, so a rewrite that drops NULL spans (an inner self-join
    counting the self-pair) would pass test_oracle_parity; this fixture
    nulls ts where event_id % 7 = 0 and links every other table."""
    for name in TABLE_NAMES:
        if name != "events":
            (tmp_path / f"{name}.parquet").symlink_to(f"{SF_SMOKE}/{name}.parquet")
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * REPLACE (CASE WHEN event_id % 7 = 0 THEN NULL ELSE ts END AS ts) "
        f"FROM read_parquet('{SF_SMOKE}/events.parquet')) "
        f"TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"
    )
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tmp_path}/{name}.parquet')"
        )
    assert con.execute("SELECT count(*) FROM events WHERE ts IS NULL").fetchone()[0] > 0
    spec = REGISTRY["session_overlap_histogram"]
    sdf = spec.fn(spark, str(tmp_path))
    rel = con.execute(spec.oracle)
    ocols = [d[0] for d in rel.description]
    assert _normalize([tuple(r) for r in sdf.collect()], sdf.columns) == _normalize(
        rel.fetchall(), ocols
    )
    con.close()
