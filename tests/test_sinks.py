"""Sink discipline: single-file CSV only for small aggregates; partitioned
parquet round-trips with partition pruning available to readers."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.sinks import (
    SinkSafetyError,
    write_partitioned_parquet,
    write_single_csv,
)

from .conftest import SF_SMOKE


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="sink_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_single_csv_one_file_with_header(spark, outdir):
    df = spark.createDataFrame([("Uber", 1, 10), ("Lyft", 1, 2)], ["business", "month", "n"])
    write_single_csv(df, f"{outdir}/agg")
    parts = glob.glob(f"{outdir}/agg/part-*.csv")
    assert len(parts) == 1  # coalesce(1): exactly one data file
    with open(parts[0]) as f:
        header = f.readline().strip()
    assert header == "business,month,n"


def test_single_csv_refuses_fact_scale(spark, outdir):
    big = spark.range(1000)
    with pytest.raises(SinkSafetyError):
        write_single_csv(big, f"{outdir}/big", max_rows=100)


def test_partitioned_parquet_roundtrip(spark, outdir):
    df = spark.createDataFrame(
        [("Uber", 1, 10.0), ("Lyft", 2, 2.0), ("Uber", 2, 5.0)], ["business", "month", "v"]
    )
    write_partitioned_parquet(df, f"{outdir}/pq", partition_by=["month"])
    assert glob.glob(f"{outdir}/pq/month=1")  # hive-style layout → partition pruning
    back = spark.read.parquet(f"{outdir}/pq")
    assert back.count() == 3
    pruned = back.filter(F.col("month") == 1)
    assert pruned.count() == 1


def test_partition_filter_prunes_at_plan_level(spark, outdir):
    """A filter on the partition column must become a PartitionFilters entry
    on the scan (directories skipped at planning) — not a post-scan Filter
    over all files."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.plans import plan_string

    df = spark.createDataFrame(
        [("Uber", m, float(m)) for m in range(1, 6)], ["business", "month", "v"]
    )
    write_partitioned_parquet(df, f"{outdir}/pruned", partition_by=["month"])
    pruned = spark.read.parquet(f"{outdir}/pruned").filter(F.col("month") == 3)
    plan = plan_string(pruned)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "month" in pf[0], plan


def test_json_lines_roundtrip_with_schema(spark, outdir):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.sinks import (
        read_json_lines,
        write_json_lines,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    path = f"{outdir}/docs_jsonl"
    write_json_lines(docs, path)
    back = read_json_lines(spark, path, schema=docs.schema)
    assert back.schema == docs.schema
    assert sorted(r["doc_id"] for r in back.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )


def test_orc_roundtrip_and_filter_pushdown(spark, outdir):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.sinks import (
        read_orc,
        write_orc,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    path = f"{outdir}/docs_orc"
    write_orc(docs, path)
    back = read_orc(spark, path)
    assert back.count() == docs.count()
    plan = back.filter(back.doc_id > 100).select("doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)" in plan


# --- reference vis-notebook CSV contract ------------------------------------

_REF_CSV = "/root/reference/CSV"
_MONEY_RE = r"^-?\d{1,3}(,\d{3})*\.\d{2}$"
#: headers of the reference's exported CSVs (FIXTURES.md §A4), consumed by
#: codes/task2_vis.ipynb cells 0-2 and task5_vis.ipynb cell 0 via pandas
#: read_csv
_REF_HEADERS = {
    "trip_count_task2.csv": ["business", "month", "trip_count"],
    "total_profit_task2.csv": ["business", "month", "total_profit"],
    "total_earnings_task2.csv": ["business", "month", "total_earnings"],
    "avgwaitingtime_task5.csv": ["day", "average_waiting_time"],
}


def _read_csv(path):
    import csv

    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def _engine_task2_task5_csvs(spark, outdir):
    """The four reference CSVs as the engine's sinks write them, keyed by
    the reference file name: (header, rows) from golden sample values."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.pipelines.rideshare import (
        present_money,
    )

    def engine_csv(df, name):
        write_single_csv(df, f"{outdir}/{name}")
        return _read_csv(glob.glob(f"{outdir}/{name}/part-*.csv")[0])

    trip_count = spark.createDataFrame(
        [("Uber", 5, 14276372), ("Lyft", 4, 8173)], ["business", "month", "trip_count"]
    )
    profit = spark.createDataFrame(
        [("Uber", 5, 163133615.50), ("Lyft", 4, -90197.13)], ["business", "month", "total_profit"]
    )
    earnings = spark.createDataFrame(
        [("Uber", 5, 313005114.53), ("Lyft", 4, 297815.38)], ["business", "month", "total_earnings"]
    )
    daily = spark.createDataFrame(
        [(1, 396.5318744409635), (2, 246.05148716456986)], ["day", "average_waiting_time"]
    )
    return {
        "trip_count_task2.csv": engine_csv(trip_count, "trip_count"),
        "total_profit_task2.csv": engine_csv(present_money(profit, ["total_profit"]), "profit"),
        "total_earnings_task2.csv": engine_csv(
            present_money(earnings, ["total_earnings"]), "earnings"
        ),
        "avgwaitingtime_task5.csv": engine_csv(daily, "daily"),
    }


def test_task2_task5_csv_contract_matches_reference(spark, outdir):
    """Golden-schema parity with the reference's exported CSVs: same
    headers, money columns in the same format_number thousands form the
    notebooks re-parse, counts as plain integers, task-5 averages as raw
    doubles."""
    import re

    for ref_name, (header, rows) in _engine_task2_task5_csvs(spark, outdir).items():
        assert header == _REF_HEADERS[ref_name], f"{ref_name}: {header}"
        if ref_name.startswith("total_"):
            assert all(re.match(_MONEY_RE, r[2]) for r in rows)
        elif ref_name.startswith("trip_count"):
            assert all(re.match(r"^\d+$", r[2]) for r in rows)
        else:  # avgwaitingtime: day int + raw double, notebook plots directly
            assert all(re.match(r"^\d+$", r[0]) and float(r[1]) for r in rows)


@pytest.mark.skipif(
    not os.path.isdir(_REF_CSV), reason=f"reference CSV exports not present at {_REF_CSV}"
)
def test_task2_task5_csv_rows_are_reference_rows(spark, outdir):
    """Exact string parity on the shared golden values: every row the
    engine writes appears verbatim in the reference's export, whose header
    and money format match the recorded contract."""
    import re

    for ref_name, (header, rows) in _engine_task2_task5_csvs(spark, outdir).items():
        ref_header, ref_rows = _read_csv(f"{_REF_CSV}/{ref_name}")
        assert ref_header == _REF_HEADERS[ref_name], f"{ref_name}: {ref_header}"
        if ref_name.startswith("total_"):
            assert all(re.match(_MONEY_RE, r[2]) for r in ref_rows[:5])
        assert {tuple(r) for r in rows} <= {tuple(r) for r in ref_rows}


# --- custom Python DataSource writer (doc_shards) ----------------------------


def _register_shards(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.pydatasource import (
        SHARDS_SOURCE_NAME,
        register_doc_shards_source,
    )

    register_doc_shards_source(spark)
    return SHARDS_SOURCE_NAME


def test_doc_shards_roundtrip_and_manifest(spark, outdir):
    """Arrow writer -> two-phase commit -> manifest-driven reader: the full
    custom-sink surface round-trips the documents corpus losslessly."""
    import json
    import os

    fmt = _register_shards(spark)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    path = f"{outdir}/shards"
    docs.write.format(fmt).option("path", path).mode("overwrite").save()

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert sum(s["rows"] for s in manifest["shards"]) == docs.count()
    assert all(not s["name"].startswith("_tmp-") for s in manifest["shards"])

    back = spark.read.format(fmt).option("path", path).load()
    assert back.count() == docs.count()
    assert back.exceptAll(docs).count() == 0 and docs.exceptAll(back).count() == 0


def test_doc_shards_reader_ignores_uncommitted_debris(spark, outdir):
    """A crashed task's _tmp- shard (written but never committed) must be
    invisible: readers list the manifest, never the directory."""
    fmt = _register_shards(spark)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(50)
    path = f"{outdir}/shards"
    docs.write.format(fmt).option("path", path).mode("overwrite").save()
    with open(f"{path}/_tmp-shard-torn.jsonl", "w") as fh:
        fh.write('{"doc_id": 999999, "text": "torn uncommitted write"}\n')
    back = spark.read.format(fmt).option("path", path).load()
    assert back.count() == 50
    assert back.filter(F.col("doc_id") == 999999).count() == 0


def test_doc_shards_append_and_overwrite_modes(spark, outdir):
    fmt = _register_shards(spark)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") < 100)
    b = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    path = f"{outdir}/shards"
    a.write.format(fmt).option("path", path).mode("overwrite").save()
    b.write.format(fmt).option("path", path).mode("append").save()
    back = spark.read.format(fmt).option("path", path).load()
    assert back.count() == a.count() + b.count()  # append unions manifests

    b.write.format(fmt).option("path", path).mode("overwrite").save()
    again = spark.read.format(fmt).option("path", path).load()
    assert again.count() == b.count()  # overwrite replaced prior shards
    assert again.exceptAll(b).count() == 0


def test_doc_shards_abort_removes_uncommitted_tmp_files(spark, outdir):
    """The abort path of the two-phase commit: written-but-uncommitted
    shards are deleted, committed shards from prior runs stay untouched."""
    import json
    import os

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.pydatasource import (
        _build_shards_datasource,
    )

    source_cls = _build_shards_datasource()
    src = source_cls(options={"path": f"{outdir}/shards"})
    writer = src.writer(None, overwrite=True)

    import pyarrow as pa

    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], type=pa.int64()), pa.array(["x", "y"], type=pa.string())],
        names=["doc_id", "text"],
    )
    msg = writer.write(iter([batch]))
    tmp_path = os.path.join(f"{outdir}/shards", msg.tmp_name)
    assert os.path.exists(tmp_path)  # uncommitted shard on disk

    writer.abort([msg, None])  # None = a task that never produced a message
    assert not os.path.exists(tmp_path)
    assert not os.path.exists(os.path.join(f"{outdir}/shards", "_MANIFEST.json"))

    # commit path still works after an abort (fresh attempt)
    msg2 = writer.write(iter([batch]))
    writer.commit([msg2])
    with open(os.path.join(f"{outdir}/shards", "_MANIFEST.json")) as fh:
        assert sum(s["rows"] for s in json.load(fh)["shards"]) == 2


def test_sized_parquet_rolls_files_at_record_cap(spark, tmp_path):
    """A small target_mb must split the write into multiple files with no
    file exceeding the returned record cap — and no repartition: row data
    round-trips exactly."""
    import glob
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.sinks import (
        write_sized_parquet,
    )

    df = spark.range(0, 50_000, 1, 2).withColumnRenamed("id", "k")
    out = f"{tmp_path}/sized"
    # ~26-byte json rows; 1 MB target → cap ≈ 40k records per file
    cap = write_sized_parquet(df, out, target_mb=1)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) >= 2
    counts = [
        spark.read.parquet(f).count() for f in files
    ]
    assert all(c <= cap for c in counts)
    assert sum(counts) == 50_000
    got = spark.read.parquet(out)
    assert got.count() == 50_000 and set(got.columns) == {"k"}


def test_xml_roundtrip(spark, outdir):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.sinks import (
        read_xml,
        write_xml,
    )

    docs = spark.createDataFrame(
        [(1, "hello <world> & friends", "en"), (2, "ünïcode § text", "de")],
        "doc_id long, text string, lang string",
    )
    path = f"{outdir}/docs_xml"
    write_xml(docs, path, row_tag="doc")
    back = read_xml(spark, path, schema="doc_id long, text string, lang string", row_tag="doc")
    assert sorted((r["doc_id"], r["text"], r["lang"]) for r in back.collect()) == sorted(
        (r["doc_id"], r["text"], r["lang"]) for r in docs.collect()
    )  # entity escaping survives the round trip


def test_text_and_binaryfile_sources(spark, tmp_path):
    """The two remaining built-in ingestion formats: line-oriented text
    (spark.read.text) and whole-file binary (format('binaryFile') — the
    multimodal front door: each file becomes one row with path, length,
    and raw content bytes)."""
    txt_dir = tmp_path / "txt"
    txt_dir.mkdir()
    (txt_dir / "a.txt").write_text("alpha\nbeta\n")
    (txt_dir / "b.txt").write_text("gamma\n")
    lines = spark.read.text(str(txt_dir))
    assert lines.columns == ["value"]
    assert sorted(r["value"] for r in lines.collect()) == ["alpha", "beta", "gamma"]

    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    payload = bytes(range(16))
    (bin_dir / "x.bin").write_bytes(payload)
    files = spark.read.format("binaryFile").load(str(bin_dir))
    row = files.select("path", "length", "content").collect()[0]
    assert row["path"].endswith("x.bin")
    assert row["length"] == 16
    assert bytes(row["content"]) == payload


def test_csv_permissive_mode_captures_corrupt_records(spark, outdir):
    """Malformed-row handling at the ingestion edge: PERMISSIVE mode parses
    what it can and lands the raw line of each bad row in the designated
    corrupt-record column, so a 100 TB ingest quarantines garbage instead
    of failing the job (DROPMALFORMED/FAILFAST are the stricter dials)."""
    import os

    path = os.path.join(outdir, "dirty.csv")
    with open(path, "w") as f:
        f.write("id,amount\n1,10.5\nnot_a_number_row_with,extra,columns\n2,20.0\n3,bad\n")
    df = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema("id int, amount double, _corrupt string")
        .csv(path)
    )
    rows = df.collect()
    good = {r.id: r.amount for r in rows if r._corrupt is None}
    bad = [r._corrupt for r in rows if r._corrupt is not None]
    assert good == {1: 10.5, 2: 20.0}
    assert sorted(bad) == ["3,bad", "not_a_number_row_with,extra,columns"]


def test_parquet_merge_schema_reads_evolved_layout(spark, outdir):
    """Schema evolution: a reader over old (id, a) and new (id, a, b)
    parquet must union the schemas under mergeSchema and null-fill the
    column the old files lack — the contract that lets a long-lived table
    add columns without rewriting history."""
    import os

    base = os.path.join(outdir, "evolved")
    spark.createDataFrame([(1, "x")], "id int, a string").write.parquet(os.path.join(base, "v=1"))
    spark.createDataFrame([(2, "y", 7.0)], "id int, a string, b double").write.parquet(
        os.path.join(base, "v=2")
    )
    df = spark.read.option("mergeSchema", True).parquet(base)
    assert set(df.columns) == {"id", "a", "b", "v"}
    got = {r.id: (r.a, r.b) for r in df.collect()}
    assert got == {1: ("x", None), 2: ("y", 7.0)}


def test_jsonl_audited_read_quarantines_malformed_lines(spark, tmp_path):
    """One scan yields exactly the clean rows AND exactly the broken raw
    lines — no silent drops, no job-killing failure."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.sinks import (
        read_json_lines_audited,
        split_corrupt,
    )

    good = [
        '{"doc_id": 1, "text": "alpha"}',
        '{"doc_id": 2, "text": "beta"}',
        '{"doc_id": 3, "text": "gamma"}',
    ]
    bad = [
        '{"doc_id": 4, "text": "truncated',       # unterminated string/object
        "not json at all",                         # garbage line
    ]
    p = tmp_path / "corpus.jsonl"
    p.write_text("\n".join(good[:2] + [bad[0]] + [good[2]] + [bad[1]]) + "\n")
    schema = spark.createDataFrame([(1, "x")], "doc_id long, text string").schema
    df = read_json_lines_audited(spark, str(p), schema)
    clean, quarantine = split_corrupt(df)
    assert sorted((r["doc_id"], r["text"]) for r in clean.collect()) == [
        (1, "alpha"), (2, "beta"), (3, "gamma")
    ]
    assert sorted(r["raw_line"] for r in quarantine.collect()) == sorted(bad)
