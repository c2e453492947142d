"""Sinks: single-file CSV for small aggregates, partitioned parquet for
fact-scale outputs.

The reference writes every result as ``coalesce(1)`` CSV to S3
(``codes/task2.py:109-111``, ``codes/task5.py:88`` — task2 actually crashes
on an undefined ``s3_bucket``; SURVEY.md §2.1 S3).  ``coalesce(1)`` funnels
the entire write through ONE task — acceptable for a 10-row aggregate, a
catastrophe for anything fact-scale.  The two sinks here encode that
discipline:

- ``write_single_csv`` refuses (by default) to write more than
  ``max_rows`` — it exists for *small aggregate* exports only;
- ``write_partitioned_parquet`` is the scale path: partition columns (e.g.
  event date) give downstream readers partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


class SinkSafetyError(RuntimeError):
    pass


def write_single_csv(df: DataFrame, path: str, max_rows: int = 100_000) -> None:
    """Single headered CSV file (reference-style ``coalesce(1)`` sink) with
    a guard against accidentally funneling fact-scale data into one task."""
    n = df.count()
    if n > max_rows:
        raise SinkSafetyError(
            f"refusing single-file CSV for {n} rows (> {max_rows}); "
            "use write_partitioned_parquet for fact-scale outputs"
        )
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink — the 100 TB path.  Callers pick partition
    columns with bounded cardinality (date, not user_id)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
    sort_by: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffles rows into ``n_buckets`` files by
    hash of ``bucket_by`` at WRITE time, so every later equi-join or
    aggregation on that key is exchange-free (Catalyst reads the bucketing
    metadata and skips the shuffle — pinned in ``tests/test_bucketing.py``).

    This is how the fact×fact edges (lineitem⋈orders on orderkey) drop
    their shuffle at 100 TB: pay the partition once at ingest, amortize it
    over every downstream query.  Also sorts within buckets — by the bucket
    key by default, or by ``sort_by`` (e.g. ``[user_id, ts]`` so downstream
    per-key WINDOWS inherit their sort too, not just joins).

    The input is repartitioned to ONE writer task per bucket first
    (``repartition(n, key)`` hashes with the same murmur3 ``pmod`` Spark's
    bucket assignment uses, so each task holds exactly one bucket's rows).
    Without it every input partition emits a file per bucket, and a scan of
    a multi-file bucket forfeits the SORT guarantee (Catalyst only trusts
    bucket order with at most one file per bucket) — the window queries
    would keep paying their Sort.  At 100 TB this is also the small-files
    fix (n_input × n_buckets files otherwise); size ``n_buckets`` so one
    bucket ≈ 128 MB–1 GB."""
    from pyspark.sql import functions as F

    writer = (
        df.repartition(n_buckets, F.col(bucket_by))
        .write.mode(mode)
        .bucketBy(n_buckets, bucket_by)
        .sortBy(*(sort_by or [bucket_by]))
    )
    if path is not None:
        # EXTERNAL table: the bucket files outlive the (in-memory) catalog,
        # so a later session can re-attach them without re-shuffling (the
        # warehouse reuse in ``sources.warehouse``)
        writer = writer.option("path", os.path.abspath(path))
    writer.saveAsTable(table)


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line) — the interchange format for
    downstream non-Spark consumers (tokenizer training, labeling tools).
    Keeps Spark's per-partition parallel write; no coalesce."""
    df.write.mode(mode).json(path)


def read_json_lines(spark, path: str, schema=None) -> DataFrame:
    """JSON-lines source.  ALWAYS pass the schema in production: schema
    inference is a full extra pass over the data, and at 100 TB that is a
    second scan before the first real job starts."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — columnar alternative to parquet (predicate pushdown,
    column pruning, and min/max stripe skipping all apply, same as
    parquet); for pipelines whose readers are Hive/Trino-first."""
    df.write.mode(mode).orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC source (self-describing schema, like parquet)."""
    return spark.read.orc(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite") -> None:
    """XML sink (Spark 4 built-in, the donated spark-xml connector) — for
    feeds whose consumers mandate XML (regulatory submissions, legacy ETL).
    Row-per-element under ``row_tag``; per-partition parallel write."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


def read_xml(spark, path: str, schema=None, row_tag: str = "row") -> DataFrame:
    """XML source.  As with JSON: ALWAYS pass the schema in production —
    inference is an extra full pass, and XML's is the costliest of the
    text formats (full parse, no early bail)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_sized_parquet(
    df: DataFrame,
    path: str,
    target_mb: int = 128,
    sample_rows: int = 10_000,
    mode: str = "overwrite",
) -> int:
    """Parquet sink that bounds OUTPUT FILE SIZE, the other half of write
    hygiene at scale: tiny files swamp the namenode/listing and huge files
    defeat range-request parallelism, so production sinks target
    ~128-1024 MB per file.

    Row width is estimated from a bounded sample (serialized via the
    to_json length of each row — a cheap upper-bound proxy for on-disk
    width before encoding), converted to ``maxRecordsPerFile``, which Spark
    enforces per task WITHOUT any repartition: no extra shuffle, files
    just roll over at the cap.  Returns the cap used (also handy for
    tests).  Compression typically shrinks files well under the target —
    the cap bounds the upper tail, which is what matters."""
    from pyspark.sql import functions as F

    sampled = df.limit(sample_rows).select(
        F.length(F.to_json(F.struct(*df.columns))).alias("w")
    )
    row = sampled.agg(F.avg("w").alias("avg_w")).collect()[0]
    avg_w = row["avg_w"] or 1.0
    max_records = max(1, int(target_mb * 1024 * 1024 / avg_w))
    df.write.mode(mode).option("maxRecordsPerFile", max_records).parquet(path)
    return max_records


CORRUPT_COL = "_corrupt_record"


def read_json_lines_audited(spark, path: str, schema) -> DataFrame:
    """JSON-lines source with malformed-line QUARANTINE — the ingest shape
    real scraped corpora need: at 100 TB there are ALWAYS broken lines
    (truncated writes, encoding garbage, schema drift), and the two failure
    modes of the naive reader are both wrong — FAILFAST kills a day-long
    job on line one, silent DROPMALFORMED destroys the audit trail.

    PERMISSIVE mode parses every well-formed line against ``schema`` and
    lands each malformed line's RAW TEXT in ``{CORRUPT_COL}`` (all data
    fields null), so one scan yields both the clean rows and the evidence.
    Split with ``split_corrupt``; quarantine volume is the data-quality
    metric to alert on.

    ``schema`` is REQUIRED (not merely recommended): inference is a second
    full pass, and under PERMISSIVE an inferred schema would be fit to the
    corrupt lines too."""
    from pyspark.sql.types import StringType, StructField, StructType

    audited = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
    return (
        spark.read.schema(audited)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine) from an audited read: clean rows drop the audit
    column; quarantine rows lead with the raw malformed line and keep the
    data columns (PERMISSIVE can partially salvage fields — seeing which
    survived is triage signal).  Keeping data columns in the quarantine
    projection is also REQUIRED: Spark (2.3+) disallows queries whose only
    referenced column from a raw JSON/CSV scan is the internal
    corrupt-record column (the documented alternative is caching the parsed
    frame — a session-lifetime leak this engine avoids)."""
    from pyspark.sql import functions as F

    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    data_cols = [c for c in df.columns if c != CORRUPT_COL]
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line"), *data_cols
    )
    return clean, quarantine
