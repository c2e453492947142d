"""The one measurement harness behind ``bench.py`` and the ``tools/`` curves.

Every timing tool in the repo measures the same way, so the method lives
here once:

- ``session(app, cpus)``: the engine's session factory at ``local[cpus]``,
  Spark logging at ERROR (stdout stays the tools' own).
- ``warm_up(spark, sf_dir, cpus)``: touch every input and every one-time
  runtime path (page cache, Python worker pools, shuffle codegen) and
  build the staged artifacts, so no timed query pays a cold start.
  Returns the artifact build seconds, which callers report separately.
- ``timed_run(spark, name, build)``: seconds to build one DataFrame and
  run it into the JVM-side noop sink (the full plan runs, nothing crosses
  Py4J), then the between-measurement hygiene outside the timed window.
- ``replicate(tables, out_dir, src_dir, replicas)``: the replica
  synthesizer behind the sf1/sf10 scale points, with one transform per
  table (``REPLICA_TRANSFORMS``); every other table is linked from the
  source, so each point is a complete sf directory.  ``synthesize`` is its
  content-marker early return, shared with the other synthesized inputs.
- ``plan_stats(plan)``: node counts of a ``formatted`` physical plan.
- ``fork_points(script, runs)``: one forked process per measured point.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

import numpy as np
import pandas as pd  # module-global: pandas-UDF type hints resolve here
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe import stage  # noqa: E402
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import ANN_METHODS  # noqa: E402
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (  # noqa: E402
    LANG_MARKERS,
    STOPWORDS,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import get_spark  # noqa: E402
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.pydatasource import (  # noqa: E402
    SOURCE_NAME,
    register_synthetic_source,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import (  # noqa: E402
    TABLE_NAMES,
    load_table,
)

ID_STRIDE = 10_000_000


def env_cpus() -> int:
    """Cores for ``local[n]``: ``$SPARK_GRAFT_CPUS`` if set, else as many as
    this process may run on (not a fixed count, so a 4-core host runs
    ``local[4]``)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def session(app: str, cpus: int | str):
    spark = get_spark(app, master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str, cpus: int | str) -> float:
    """Run the warm-ups, then build the staged artifacts; return the build
    seconds."""
    cpus = int(cpus)
    # pull every table through the page cache + JIT the scan path
    for name in TABLE_NAMES:
        _sink(load_table(spark, sf_dir, name))

    # spin up the Python worker pool (reused across queries via
    # spark.python.worker.reuse) so the first Arrow-batched query isn't
    # charged ~cpus × interpreter-start
    def _noop(batches):
        yield from batches

    _sink(spark.range(0, cpus * 4, 1, cpus).mapInPandas(_noop, schema="id long"))

    # the GROUPED_AGG pandas-UDF path (used by the UDAF API demo
    # geo_mean_value_by_event_type) runs a different Arrow eval type than
    # mapInPandas and was still charged ~4-7 s of one-time spin-up in cold
    # sweeps (BENCH_r03: 17.6x its pin cold, 0.9 s steady-state) — touch it
    # once with a trivial aggregate so no timed query pays it
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _warm_sum(v: pd.Series) -> float:  # nested: pickled by value
        return float(v.sum())

    _sink(
        spark.range(0, cpus * 4, 1, cpus)
        .withColumn("g", F.col("id") % 8)
        .groupBy("g")
        .agg(pandas_udf(_warm_sum, "double")("id"))
    )

    # the Python DataSource read path runs in its own worker/runner type
    # (plan_data_source_read), not the mapInPandas pool — touch it once so
    # the first custom-source query isn't charged its spin-up either
    register_synthetic_source(spark)
    _sink(spark.read.format(SOURCE_NAME).option("n_docs", 32).option("partitions", cpus).load())

    # one tiny shuffle so exchange/agg machinery (shuffle writers, codegen
    # of the HashAggregate+Exchange shape) is initialized before the first
    # timed query instead of being charged to it
    _sink(load_table(spark, sf_dir, "region").groupBy("r_name").count())

    # build the content-addressed staging artifacts up front (ingest cost,
    # not query cost) so per-query timings don't depend on which
    # dedup-family query happens to run first against a cold stage
    start = time.perf_counter()
    for build in (
        stage.staged_features,
        stage.staged_shingles,
        stage.staged_jaccard_pairs,
        stage.staged_embedding_pairs,
        stage.staged_segments,
        stage.staged_tfidf_topk,
        stage.staged_tfidf_sim_candidates,
        stage.staged_tfidf_doc_vectors,
        stage.staged_quality_scores,
        stage.staged_ann_exact_topk,
        # the video tier's frame-hash table: a stage-cold run (fresh
        # testdata) otherwise charges its synthesize+demux+dHash build to
        # media_video_neardup_phash
        stage.staged_video_phash,
    ):
        _sink(build(spark, sf_dir))
    # ANN index-build panels: offline once-per-snapshot cost the recall
    # monitor reads — built here so a cold stage dir doesn't charge four
    # index probes + parquet writes to ann_recall_report's timing
    for method, _fn in ANN_METHODS:
        _sink(stage.staged_ann_method_topk(spark, sf_dir, method))
    return round(time.perf_counter() - start, 4)


def timed_run(spark, name: str, build) -> float:
    """Seconds to run ``build()`` (which returns a DataFrame) plus its
    noop sink, in job group ``name``."""
    spark.sparkContext.setJobGroup(name, name)
    start = time.perf_counter()
    _sink(build())
    seconds = time.perf_counter() - start
    # query bodies do not persist, but a caller-built frame may have been
    # cached (e.g. build_enriched_view(cache=True)); drop those blocks so no
    # query's timing inherits the previous queries' executor-memory pressure
    spark.catalog.clearCache()
    # ... and return the heap to a common baseline OUTSIDE the timed
    # window: 250+ queries in one JVM accumulate garbage, and a query that
    # lands mid-collection pays multi-second tails (observed: the same
    # static plan at 2s solo vs 31s late in a sweep)
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    return seconds


# --- replica synthesis ------------------------------------------------------
#
# A transform maps (source table, replica k) to replica k.  Replica 0 is the
# source; every replica keeps the source schema and offsets its ids by
# k·stride, so ids never collide across replicas.


def _offset(tbl: pa.Table, k: int, stride: int, *cols: str) -> pa.Table:
    for col in cols:
        tbl = tbl.set_column(tbl.schema.get_field_index(col), col, pc.add(tbl[col], k * stride))
    return tbl


_KEEP = set(STOPWORDS).union(*LANG_MARKERS.values())


def documents_replica(src: pa.Table, k: int) -> pa.Table:
    """Every CONTENT token suffixed ``k``.  Language-marker and stopword
    tokens keep their spelling: the lang-ID argmax and stopword gates must
    see them, or replicas 1-9 would all fail the ``en`` gate and the
    packing stage wouldn't scale.  Content-token suffixing still makes
    replica vocabularies disjoint where it matters, because virtually every
    2/3-gram shingle contains at least one content token — so the planted
    duplicate structure stays intra-replica and each stage's output scales
    with the replica count.  Caveat: the ≤8 distinct marker-only 3-gram
    shingles ("the a the", …) are shared across ALL replicas, so their df
    grows with the replica count and adds a bounded super-linear candidate
    term to the exact-Jaccard leg (the pairs themselves are sub-threshold)."""
    texts = src["text"]
    if k:
        texts = pa.array(
            [" ".join(t if t in _KEEP else f"{t}{k}" for t in txt.split()) for txt in texts.to_pylist()]
        )
    tbl = src.set_column(src.schema.get_field_index("text"), "text", texts)
    tbl = tbl.set_column(tbl.schema.get_field_index("n_chars"), "n_chars", pc.utf8_length(texts))
    return _offset(tbl, k, ID_STRIDE, "doc_id")


def embeddings_replica(src: pa.Table, k: int) -> pa.Table:
    """A SIGNED CYCLIC ROTATION of every vector: roll by ``k % dim``, and
    for ``k >= dim`` (100 replicas over 64 dims would otherwise wrap and
    duplicate replica 0 exactly — brute-force ties) also flip a
    deterministic per-replica sign pattern.  Signed axis permutations are
    orthogonal, so norms and intra-replica pairwise cosines are preserved
    exactly.  The query panel (vec_id < N_QUERIES) stays the k=0
    originals, so the recall monitor probes a FIXED panel against a
    growing corpus — the production shape."""
    emb = src["embedding"].combine_chunks()
    vecs = emb.flatten().to_numpy().reshape(len(emb), -1)
    dim = vecs.shape[1]
    vecs = np.roll(vecs, k % dim, axis=1)
    if k >= dim:
        vecs = vecs * np.random.default_rng(1000 + k).choice(np.float32([-1.0, 1.0]), size=dim)
    offsets = pa.array(np.arange(0, vecs.size + 1, dim, dtype=np.int32))
    rolled = pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel()), type=emb.type)
    tbl = src.set_column(src.schema.get_field_index("embedding"), "embedding", rolled)
    return _offset(tbl, k, ID_STRIDE, "vec_id")


def events_replica(src: pa.Table, k: int) -> pa.Table:
    """(ts, event_type, value, props) verbatim: the per-type value
    distribution is identical at every scale, so exact medians, quartiles
    and deciles stay at the same data values while the rank machinery
    processes ``replicas``× the rows."""
    return _offset(src, k, ID_STRIDE, "event_id", "user_id")


def customer_replica(src: pa.Table, k: int) -> pa.Table:
    """Names get a 4-char suffix of REPEATED digits (``d₁d₁d₂d₂`` of k), so
    any two replica suffixes differ in ≥ 2 characters: intra-replica
    Levenshtein distances are preserved exactly and cross-replica name
    pairs (distance ≥ 2) generate NO edges.  Custkeys are offset by
    k·7,000,000, a multiple of the ``ER_SAMPLE_MOD`` = 7 sample modulus, so
    each replica's sampled subset is exactly the base subset."""
    if k:
        d1, d2 = divmod(k, 10)
        names = pc.binary_join_element_wise(src["c_name"], f"{d1}{d1}{d2}{d2}", "")
        src = src.set_column(src.schema.get_field_index("c_name"), "c_name", names)
    return _offset(src, k, 7_000_000, "c_custkey")


def orders_replica(src: pa.Table, k: int) -> pa.Table:
    """Every non-key column verbatim: per-customer order-count/revenue
    distributions are identical at every scale."""
    return _offset(src, k, ID_STRIDE, "o_orderkey", "o_custkey")


REPLICA_TRANSFORMS = {
    "documents": documents_replica,
    "embeddings": embeddings_replica,
    "events": events_replica,
    "customer": customer_replica,
    "orders": orders_replica,
}


def synthesize(out_path: str, write, *params) -> str:
    """Call ``write(out_path)`` unless the output exists and its content
    marker records the same key; return ``out_path``.  The key hashes the
    whole source file that defines ``write`` (so every helper and constant
    beside it counts) and ``params``, which must carry every input from
    elsewhere: source file identities and imported values."""
    # keyed on a CONTENT marker, not bare file existence: a stale output
    # must not silently shadow a change to the synthesis logic or a
    # regenerated source table
    with open(write.__code__.co_filename, "rb") as fh:
        synth_key = hashlib.sha1(fh.read() + repr(params).encode()).hexdigest()
    out_dir, name = os.path.split(out_path)
    marker = os.path.join(out_dir, f".synth_key_{name}")
    if os.path.exists(out_path) and os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == synth_key:
                return out_path
    os.makedirs(out_dir, exist_ok=True)
    if os.path.islink(out_path):  # a linked source table: replace it, never write through
        os.unlink(out_path)
    write(out_path)
    with open(marker, "w") as fh:
        fh.write(synth_key)
    return out_path


def replicate(tables, out_dir: str, src_dir: str, replicas: int) -> str:
    """Make ``out_dir`` a complete sf directory: ``<table>.parquet`` is
    ``replicas`` transformed copies of the source for each of ``tables``
    and, for every other table not yet there, a link to the source file.
    Returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for table in TABLE_NAMES:
        src_path = os.path.abspath(os.path.join(src_dir, f"{table}.parquet"))
        out_path = os.path.join(out_dir, f"{table}.parquet")
        if table not in tables:
            if not os.path.lexists(out_path):
                os.symlink(src_path, out_path)
            continue
        transform = REPLICA_TRANSFORMS[table]

        def write(out_path: str) -> None:  # called before the loop moves on
            src = pq.read_table(src_path)
            out = pa.concat_tables([transform(src, k).cast(src.schema) for k in range(replicas)])
            # multiple row groups so the scan parallelizes like real multi-file input
            pq.write_table(out, out_path, row_group_size=max(1, out.num_rows // 32))

        st = os.stat(src_path)
        # _KEEP is the one input imported from the package
        synthesize(out_path, write, replicas, st.st_size, st.st_mtime_ns, sorted(_KEEP))
    return out_dir


# --- plan counting ----------------------------------------------------------

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")


def plan_stats(plan: str) -> dict:
    """Counts over a ``explain("formatted")`` plan.  The format prints each
    node twice — once in the tree, once as a numbered ``(N) Node`` detail
    header — so nodes are counted from the headers only."""
    nodes = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, flags=re.MULTILINE)

    def n(*names: str) -> int:
        return sum(1 for node in nodes if node in names)

    scans = [m.count(":") for m in re.findall(r"ReadSchema: struct<([^>]*)", plan)]
    return {
        "shuffle": n("Exchange"),
        "broadcast": n("BroadcastExchange"),
        "reused": n("ReusedExchange"),
        "bcast_joins": n("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
        "shuffle_joins": n("SortMergeJoin", "ShuffledHashJoin"),
        "pushed": sum(1 for ln in plan.splitlines() if "PushedFilters" in ln and "PushedFilters: []" not in ln),
        "widest_scan": max(scans, default=0),
        # prefix match: a UDTF runs as e.g. BatchEvalPythonUDTF
        "python": sorted({op for op in PYTHON_NODES for node in nodes if node.startswith(op)}),
        "topk": "TakeOrderedAndProject" in nodes,
    }


# --- forked points ----------------------------------------------------------


def fork_points(script: str, runs, stage_dir: str | None = None) -> list[dict]:
    """Run ``script`` once per ``(argv, env, tags)`` in its own process, so
    JVM and page-cache state can't bleed between points.  Each run reads
    a fresh stage dir unless ``stage_dir`` is shared.  The last stdout line
    of a run is its JSON row; ``tags`` are added to it, and each row is
    printed as it arrives.  Returns the rows."""
    rows = []
    for argv, env, tags in runs:
        run_stage = stage_dir or tempfile.mkdtemp(prefix="fork_stage_")
        try:
            out = subprocess.run(
                [sys.executable, script, *argv],
                env=dict(os.environ, SPARK_GRAFT_STAGE_DIR=run_stage, **env),
                capture_output=True, text=True, check=True, cwd=REPO,
            )
        finally:
            if stage_dir is None:
                shutil.rmtree(run_stage, ignore_errors=True)
        row = {**json.loads(out.stdout.strip().splitlines()[-1]), **tags}
        print(json.dumps(row), flush=True)
        rows.append(row)
    return rows
