"""sources.tables.read_parquet: the per-process parquet schema memo."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import (
    load_table,
    read_parquet,
)

from .conftest import SF_SMOKE


def _jobs_run_by(spark, group: str, fn):
    """(fn's result, the number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_table_runs_no_spark_job(spark, tmp_path):
    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    first, first_jobs = _jobs_run_by(
        spark, "memo-first", lambda: load_table(spark, str(tmp_path), "events")
    )
    again, again_jobs = _jobs_run_by(
        spark, "memo-again", lambda: load_table(spark, str(tmp_path), "events")
    )
    assert first_jobs >= 1  # the first read infers the schema with a job
    assert again_jobs == 0
    assert again.schema == first.schema


def _epoch_micros(spark, sf_dir: str) -> dict[int, int]:
    df = load_table(spark, sf_dir, "events").select("event_id", F.unix_micros("ts").alias("us"))
    return {r.event_id: r.us for r in df.collect()}


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A NANOS copy of events.parquet rewritten as MICROS: the next read
    sees the new physical type (not the memoized one), and load_table
    normalizes ``ts`` to the same epoch micros either way."""
    source = pq.read_table(f"{SF_SMOKE}/events.parquet")
    path = tmp_path / "events.parquet"

    def write(unit: str) -> None:
        ts = source.schema.get_field_index("ts")
        pq.write_table(source.set_column(ts, "ts", source["ts"].cast(pa.timestamp(unit))), path)

    want = _epoch_micros(spark, SF_SMOKE)
    write("ns")
    assert read_parquet(spark, str(path)).schema["ts"].dataType == LongType()
    assert _epoch_micros(spark, str(tmp_path)) == want
    write("us")
    assert read_parquet(spark, str(path)).schema["ts"].dataType == TimestampNTZType()
    assert _epoch_micros(spark, str(tmp_path)) == want
