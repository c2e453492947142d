"""Measure the streaming dedup screens' throughput and state growth.

Round-8 verdict item 4: the streaming family is parity-correct but its
central scale claim — state is O(distinct content), not O(traffic)
(``streaming/stateful.py``) — was unmeasured.  This tool drives
``exact_dedup_stream`` and ``minhash_dedup_stream`` over growing
micro-batch TRAFFIC while holding the DISTINCT-CONTENT pool fixed, and
records rows/s plus the state store's own row/byte counters from the
query progress feed (``stateOperators`` — the numbers a production
monitor alarms on).

Design:
- Content pool: D base texts sampled deterministically from the sf0.1
  documents table (real shingle structure for the MinHash screen).
- Traffic: T rows cycling the pool with fresh doc_ids, split into
  ``N_MICROBATCHES`` micro-batches of ``FILES_PER_BATCH`` parquet files
  each (strictly increasing mtimes per batch +
  ``maxFilesPerTrigger=FILES_PER_BATCH`` → oldest-first batches).  A
  file-source partition is one file, so FILES_PER_BATCH is the batch's
  scan/projection parallelism — with one file per batch the MinHash
  signature expression ran on ONE core and throughput read 400 rows/s
  (measured; a Kafka source would bring its own partitioning, so the
  receipt feeds the operator the partitioned input production gives it).
- The claim under test: as T grows 10× → 100× with D fixed, state rows
  stay ≈ admitted-content-sized (exact: one row per distinct
  fingerprint; minhash: one bucket row per admitted-signature bucket)
  while throughput holds — and a second D-growth point shows state
  tracking DISTINCT content when the pool itself grows.

Each point runs in a forked process (fresh JVM/state dir), like
``scaling_curve.py``.

Run:  python tools/streaming_curve.py            # full sweep, JSON lines
      python tools/streaming_curve.py --one MODE T D   # one point
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import env_cpus, fork_points, session  # noqa: E402

SRC_SF_DIR = "/root/testdata/sf0.1"
N_MICROBATCHES = 10
FILES_PER_BATCH = 8


def build_traffic(out_dir: str, traffic: int, distinct: int) -> str:
    """T traffic rows cycling a D-text pool into N_MICROBATCHES groups of
    FILES_PER_BATCH parquet files; every file in batch b carries mtime
    now+10b (FileStreamSource processes oldest first, so each trigger of
    ``maxFilesPerTrigger=FILES_PER_BATCH`` consumes exactly one batch's
    files).  doc_ids are globally unique and ascending across batches, so
    the keep-first admitted set is deterministic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(SRC_SF_DIR, "documents.parquet"), columns=["doc_id", "text"])
    texts = src.column("text").to_pylist()[:distinct]
    assert len(texts) == distinct, f"pool wants {distinct}, corpus has {len(texts)}"
    os.makedirs(out_dir, exist_ok=True)
    per = -(-traffic // N_MICROBATCHES)
    now = time.time()
    written = 0
    for b in range(N_MICROBATCHES):
        n = min(per, traffic - written)
        if n <= 0:
            break
        ids = list(range(written, written + n))
        chunk = -(-n // FILES_PER_BATCH)
        for f in range(FILES_PER_BATCH):
            part = ids[f * chunk : (f + 1) * chunk]
            if not part:
                break
            path = os.path.join(out_dir, f"batch_{b:03d}_{f}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(part, type=pa.int64()),
                        "text": [texts[i % distinct] for i in part],
                    }
                ),
                path,
            )
            os.utime(path, (now + b * 10, now + b * 10))
        written += n
    return out_dir


def run_point(mode: str, traffic: int, distinct: int, cpus: int) -> dict:
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.streaming.stateful import (
        exact_dedup_stream,
        minhash_dedup_stream,
    )

    spark = session("streaming-curve", cpus)
    data_dir = tempfile.mkdtemp(prefix="stream_curve_data_")
    ckpt = tempfile.mkdtemp(prefix="stream_curve_ckpt_")
    try:
        build_traffic(data_dir, traffic, distinct)
        schema = "doc_id long, text string"
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", FILES_PER_BATCH)
            .parquet(data_dir)
        )
        screen = exact_dedup_stream(src) if mode == "exact" else minhash_dedup_stream(src)
        t0 = time.monotonic()
        q = (
            screen.writeStream.format("memory")
            .queryName("screen_out")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)
        wall = time.monotonic() - t0
        admitted = spark.table("screen_out").count()
        # last progress with state metrics = final state-store size
        state_rows = state_bytes = None
        for p in reversed(q.recentProgress):
            ops = p.get("stateOperators") or []
            if ops:
                state_rows = ops[0].get("numRowsTotal")
                state_bytes = ops[0].get("memoryUsedBytes")
                break
        return {
            "mode": mode,
            "traffic": traffic,
            "distinct_pool": distinct,
            "admitted": admitted,
            "wall_sec": round(wall, 2),
            "rows_per_sec": round(traffic / wall, 1),
            "state_rows": state_rows,
            "state_bytes": state_bytes,
            "n_microbatches": len(q.recentProgress),
        }
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.stop()


def main() -> None:
    if "--one" in sys.argv[1:]:
        i = sys.argv.index("--one")
        mode, traffic, distinct = sys.argv[i + 1], int(sys.argv[i + 2]), int(sys.argv[i + 3])
        print(json.dumps(run_point(mode, traffic, distinct, env_cpus())))
        return

    # traffic axis: D fixed at 2000, T grows 10x then 10x again — the
    # state-vs-traffic separation; distinct axis: one point with D 2000→4000
    # at the middle T — state must track DISTINCT content
    points = [
        ("exact", 20_000, 2_000),
        ("exact", 200_000, 2_000),
        ("exact", 2_000_000, 2_000),
        ("exact", 200_000, 4_000),
        ("minhash", 20_000, 2_000),
        ("minhash", 200_000, 2_000),
        ("minhash", 2_000_000, 2_000),
        ("minhash", 200_000, 4_000),
    ]
    runs = [(["--one", mode, str(t), str(d)], {}, {}) for mode, t, d in points]
    print(json.dumps(fork_points(os.path.abspath(__file__), runs)))


if __name__ == "__main__":
    main()
