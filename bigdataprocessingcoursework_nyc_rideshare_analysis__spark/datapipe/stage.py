"""Staged tokenization frame: scan + tokenize the corpus ONCE and share the
result across every fingerprint/shingle consumer.

Catalyst CSEs expressions *within* a projection but not across separate
queries, and both the bench harness and the verification driver isolate
cache state between queries — so previously every dedup-family query
(`dedup_exact`, `neardup_jaccard_pairs`, `neardup_minhash_lsh`,
`dedup_simhash`, `neardup_connected_components`, `contamination_overlap`,
the curate pipeline) re-paid the parquet scan + regex tokenization +
shingle explode + distinct for itself.  This module materializes those
shared prefixes to a content-addressed parquet staging area:

- ``staged_features``: (doc_id, lang, source, fingerprint, toks,
  n_bpe_tokens) — ``curate.featurize_documents`` persisted columnar.
- ``staged_shingles``: (doc_id, shingle) distinct k-gram pairs, derived
  from the *staged* token arrays (the raw text is never re-tokenized).

This is exactly the 100 TB shape: a curation run stages the tokenized /
shingled frame to columnar storage once, and every downstream stage —
dedup, contamination sweep, packing, index build — reads the stage instead
of re-tokenizing 100 TB of text per stage.  (SURVEY.md §7.2's "cache the
enriched view" principle, applied to the documents corpus.)

The stage is a CACHE, not a source of truth: the directory key folds in
the source parquet's path + size + mtime, so regenerating testdata
invalidates it automatically, and deleting the stage root is always safe.
Results are byte-identical to the unstaged expressions (same JVM
functions, materialized through parquet's lossless string/array codecs),
so every DuckDB oracle is unchanged.
"""

from __future__ import annotations

import hashlib
import inspect
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import shingles_col
from ..sources import load_table
from ..sources.tables import file_version, read_parquet

#: bump to invalidate every staged frame after a change to staged schemas
#: or to the tokenization/shingling expressions they bake in
#: v2: stage builds spread the source to the session's default parallelism
#: before the heavy transform and therefore write multi-file stages — the
#: testdata parquet is single-rowgroup (unsplittable), so v1 stages were
#: one file and every staged consumer's scan stage ran single-threaded
STAGE_VERSION = 2


def stage_root() -> str:
    """Staging directory: ``$SPARK_GRAFT_STAGE_DIR`` or ``<repo>/.stage``."""
    env = os.environ.get("SPARK_GRAFT_STAGE_DIR")
    if env:
        return env
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg_dir), ".stage")


def _source_key(sf_dir: str, table: str = "documents") -> str:
    """Content key for one source table (``sources.tables.file_version``),
    so a regenerated source file maps to a fresh stage directory."""
    version = file_version(os.path.join(sf_dir, f"{table}.parquet"))
    return hashlib.sha1(f"v{STAGE_VERSION}|{version!r}".encode()).hexdigest()[:16]


def _fn_version(fn) -> str:
    """Code-version token for a stage key: a short hash of the builder
    function's SOURCE, so an algorithm change with unchanged constants
    invalidates its staged results instead of serving stale frames from a
    persistent ``.stage/`` dir until the next pytest sweep (round-6 advice:
    ``staged_ann_method_topk`` folded index constants but not the probe
    implementation itself)."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):  # builtins / REPL-defined: fall back to name
        src = getattr(fn, "__qualname__", repr(fn))
    return hashlib.sha1(src.encode()).hexdigest()[:8]


def _ensure(
    spark: SparkSession, name: str, sf_dir: str, build, table: str = "documents"
) -> DataFrame:
    """Materialize ``build()`` under the stage key unless already present
    (parquet ``_SUCCESS`` marker = committed write; a torn earlier write
    without the marker is simply overwritten), and read the stage back.
    ``table`` picks which source parquet's content hash keys the stage
    (stages over ``embeddings`` must not survive an embeddings regeneration
    just because ``documents`` is unchanged).  The read's schema is memoized
    on the ``_SUCCESS`` marker (``sources.tables.read_parquet``), so only
    the first read after a (re)build infers it."""
    out = os.path.join(stage_root(), _source_key(sf_dir, table), name)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        build().write.mode("overwrite").parquet(out)
    return read_parquet(spark, out)


def staged_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document feature frame (``curate.featurize_documents``),
    staged: doc_id, lang, source, fingerprint, toks, n_bpe_tokens.

    Consumers select a subset of columns, and parquet column pruning means
    e.g. ``dedup_exact`` reads only (doc_id, fingerprint) — a fraction of
    the original text bytes."""
    from .curate import featurize_documents  # local: stage is curate's dependency at build time only

    # Spread the corpus to the session's parallelism BEFORE featurizing:
    # the synthetic documents.parquet is one rowgroup (unsplittable), so
    # without this the tokenize/fingerprint pass runs in ONE task and the
    # stage lands as one file, single-threading every staged consumer's
    # scan stage too.  On real multi-rowgroup 100 TB inputs the scan is
    # already parallel and the round-robin exchange is a no-op cost-wise
    # (it moves rows once, before the expensive transform).
    par = spark.sparkContext.defaultParallelism
    return _ensure(
        spark,
        "doc_features",
        sf_dir,
        lambda: featurize_documents(load_table(spark, sf_dir, "documents").repartition(par)),
    )


def staged_shingles(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) k-gram pairs, built FROM the staged token
    arrays (documents shorter than ``k`` tokens drop out via the empty-array
    explode, mirroring the oracles' ``WHERE len(toks) >= k``)."""

    def build() -> DataFrame:
        feat = staged_features(spark, sf_dir)
        return feat.select(
            "doc_id", F.explode(shingles_col("toks", k)).alias("shingle")
        ).distinct()

    return _ensure(spark, f"doc_shingles_k{k}", sf_dir, build)


def staged_segments(spark: SparkSession, sf_dir: str, width: int | None = None) -> DataFrame:
    """The hashed fixed-width segment table (doc_id, seg_idx, seg, h) the
    boilerplate family self-joins — staged instead of ``persist()``-ed so
    (a) the frequency branch and the join-back branch share one
    materialization WITHOUT leaking a cached frame into the session for
    its lifetime (round-3 advice), and (b) the two boilerplate queries
    share the segmentation work the way a real curation run would.  The
    width is part of the stage key."""

    def build() -> DataFrame:
        from .boilerplate import SEG_TOKENS, segment_table

        w = SEG_TOKENS if width is None else width
        return (
            segment_table(staged_features(spark, sf_dir), w)
            .withColumn("h", F.md5("seg"))
        )

    from .boilerplate import SEG_TOKENS

    w = SEG_TOKENS if width is None else width
    return _ensure(spark, f"doc_segments_w{w}", sf_dir, build)


def staged_jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float | None = None) -> DataFrame:
    """The verified exact near-dup pair set (doc_a, doc_b, jaccard ≥
    threshold) — the DETECTION stage's output, staged for its graph
    consumers (connected components, triangles, survivor selection).

    In a production pipeline pair detection runs once and writes this
    table; clustering and graph analytics read it — they do not re-run the
    shingle self-join each.  ``neardup_jaccard_pairs`` (the detection query
    itself) deliberately does NOT read this stage: it IS the computation
    being measured.  The threshold is part of the stage key."""
    from .dedup import JACCARD_THRESHOLD, jaccard_pairs

    t = JACCARD_THRESHOLD if threshold is None else threshold

    def build() -> DataFrame:
        return jaccard_pairs(staged_shingles(spark, sf_dir), t)

    return _ensure(spark, f"jaccard_pairs_t{t}", sf_dir, build)


def staged_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact embedding near-dup pair set (vec_a, vec_b, cos_sim ≥
    threshold) — the all-pairs block-GEMM truth tier's output, staged for
    the screen's bound summary (``neardup_embedding_lsh``) the same way
    ``staged_jaccard_pairs`` serves the text tier: the offline quadratic
    detection runs once per corpus snapshot and every recall/precision
    consumer joins the table.  ``neardup_embedding_cosine`` (the truth
    query itself) deliberately does NOT read this stage — it IS the
    computation being measured.  Threshold and the truth implementation
    version key the stage; the source key hashes ``embeddings.parquet``."""
    from .dedup import COSINE_DUP_THRESHOLD, q_neardup_embedding

    return _ensure(
        spark,
        f"embedding_pairs_t{COSINE_DUP_THRESHOLD}_{_fn_version(q_neardup_embedding)}",
        sf_dir,
        lambda: q_neardup_embedding(spark, sf_dir),
        table="embeddings",
    )


def staged_tfidf_topk(spark: SparkSession, sf_dir: str, k: int | None = None) -> DataFrame:
    """Each document's top-k TF-IDF terms (doc_id, term, df, w) — the sparse
    lexical vector table the similarity tier consumes.  Staged (k in the
    stage key) instead of ``persist()``-ed so the AllPairs query's four
    consumers (norms, head/indexed split, and both verification sides)
    share one materialization without leaking a session-lifetime cached
    frame — same discipline as ``staged_segments``.  The weight is the
    smoothed ratio IDF ``tf·(N+1)/(df+1)`` (exact-integer multiply + one
    divide, bit-identical cross-engine; see ``tfidf_top_terms``)."""
    from .textstats import TFIDF_TOP_K, tfidf_scored_topk

    kk = TFIDF_TOP_K if k is None else k

    def build() -> DataFrame:
        # spread the write across the session's parallelism: AQE coalesces
        # the small top-k window shuffle into ONE partition, and a one-file
        # stage is one ROWGROUP — unsplittable, so every consumer (norms,
        # candidate self-join, both verify sides, the 4.3M-candidate
        # distinct and the dot-product fold downstream of them) runs
        # single-threaded (measured 3x the whole query's wall time at
        # sf0.1).  Round-robin, NOT .repartition(par, "doc_id"): a hash
        # repartition collapses into the window's identical required
        # distribution and the AQE-coalescible shuffle is all that
        # remains — the exact same trap with an extra step.  Same fix as
        # the documents source in staged_features above.  "_p" in the
        # stage name versions the layout so pre-fix stages rebuild.
        par = spark.sparkContext.defaultParallelism
        return (
            tfidf_scored_topk(staged_features(spark, sf_dir), kk)
            .select("doc_id", "term", "df", "w")
            .repartition(par)
        )

    return _ensure(spark, f"tfidf_topk_k{kk}_p", sf_dir, build)


def staged_tfidf_sim_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefix-filtered AllPairs candidate pair table (doc_a, doc_b) for
    the TF-IDF similarity tier — the candidate-index build, staged (round-6
    verdict item 4's suggested fix for the query's sweep-time swing).

    In production the AllPairs candidate index is built once per corpus
    snapshot — the same offline cadence as the staged ANN panels — and
    similarity queries score + verify candidates against the vector table;
    they do not re-run the index build per query.  The stage key folds the
    top-k / threshold constants AND a hash of the candidate-generation
    source (``_fn_version``), so retuning or re-deriving the filter rebuilds
    the stage.  Lossless by construction (see
    ``textstats.tfidf_sim_candidate_pairs``), so the DuckDB oracle — which
    states the naive all-shared-terms semantics — is unchanged."""
    from .textstats import (
        TFIDF_SIM_THRESHOLD,
        TFIDF_TOP_K,
        tfidf_sim_candidate_pairs,
    )

    def build() -> DataFrame:
        # spread like staged_tfidf_topk: the distinct's AQE-coalesced output
        # would otherwise land as one rowgroup and single-thread consumers
        par = spark.sparkContext.defaultParallelism
        return tfidf_sim_candidate_pairs(staged_tfidf_topk(spark, sf_dir)).repartition(par)

    return _ensure(
        spark,
        f"tfidf_sim_cand_k{TFIDF_TOP_K}_t{TFIDF_SIM_THRESHOLD}_{_fn_version(tfidf_sim_candidate_pairs)}",
        sf_dir,
        build,
    )


def staged_tfidf_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compacted per-document sparse vector table (doc_id, entries:
    array<struct<term,w>> term-sorted, nrm) — the similarity tier's scoring
    artifact, staged beside the candidate index.  Bounded by k terms per
    document, so the whole table is broadcast-sized relative to the corpus;
    the term-sorted entry array keeps the dot product's float summation
    order deterministic (the 9-dp round absorbs the engine-vs-engine ulp)."""
    from .textstats import TFIDF_TOP_K, tfidf_doc_vectors

    def build() -> DataFrame:
        par = spark.sparkContext.defaultParallelism
        return tfidf_doc_vectors(staged_tfidf_topk(spark, sf_dir)).repartition(par)

    return _ensure(
        spark,
        f"tfidf_doc_vecs_k{TFIDF_TOP_K}_{_fn_version(tfidf_doc_vectors)}",
        sf_dir,
        build,
    )


def staged_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployed quality classifier's score table (doc_id, lang, score),
    staged — in production the inference pass writes its scores ONCE and
    every selection/pairing consumer reads the table; re-running the model
    per consumer is the per-branch tax that kills a 100 TB run.

    Consumers: ``preference_pairs_by_source`` (two rank legs previously
    re-scored the raw corpus each), ``curate_pack_quality_gated``'s keep
    side, ``budget_select_by_quality``.  ``quality_model_score`` — the
    scoring query itself — deliberately does NOT read this stage: it IS the
    inference pass being measured (same discipline as
    ``staged_jaccard_pairs``).  The stage key folds a source hash of the
    score construction, so retuning QUALITY_WEIGHTS or the feature
    expressions rebuilds it."""
    from .textstats import _quality_score_frame

    def build() -> DataFrame:
        par = spark.sparkContext.defaultParallelism
        return _quality_score_frame(spark, sf_dir).repartition(par)

    return _ensure(
        spark,
        f"quality_scores_{_fn_version(_quality_score_frame)}",
        sf_dir,
        build,
    )


def staged_ann_method_topk(spark: SparkSession, sf_dir: str, method: str) -> DataFrame:
    """One ANN tier's top-k result table (query_id, neighbor_id, cos_sim,
    rank) over the standard query panel, staged — the nightly index-build
    output a recall monitor consumes.

    In production each index build (LSH / IVF / PQ / IVF-PQ) writes its
    panel results as a table; quality monitoring joins those tables against
    the staged exact truth — it does NOT re-probe every index per report
    run.  The per-method registry queries (``ann_lsh_topk`` …) deliberately
    do NOT read this stage: each IS the index probe being measured.  The
    stage key folds the query-panel geometry AND every index constant
    (tables/bits/seeds, lists/nprobe, codebook shape/iters/caps) via
    ``similarity.ann_geometry_key`` so retuning any tier invalidates only
    its own staged results; the source key hashes ``embeddings.parquet``."""
    from .similarity import (
        ANN_METHODS,
        _group_means_into,
        ann_geometry_key,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    fn = dict(ANN_METHODS)[method]
    # ann_geometry_key covers the constants; _fn_version covers the probe
    # CODE, so an algorithm change with unchanged constants rebuilds too.
    # The TRAINERS live outside the probe's source (same one-closure-deeper
    # staleness class the video stage key closed in round 9), so fold them
    # in as well — a k-means change must rebuild every staged panel that
    # TRAINS (round-9 advice: 'lsh' never calls the trainers, so its key
    # skips them — a k-means edit no longer spuriously rebuilds the LSH
    # panel).
    key = f"ann_{method}_topk_{ann_geometry_key()}_{_fn_version(fn)}"
    if method in ("ivf", "pq", "ivfpq"):
        trainers = hashlib.sha1(
            "|".join(
                _fn_version(f)
                for f in (train_ivf_centroids, train_pq_codebooks, _group_means_into)
            ).encode()
        ).hexdigest()[:8]
        key = f"{key}_{trainers}"
    return _ensure(
        spark,
        key,
        sf_dir,
        lambda: fn(spark, sf_dir),
        table="embeddings",
    )


def staged_ann_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The brute-force cosine top-k ground truth (query_id, neighbor_id,
    cos_sim, rank) over the standard query set — the most expensive leg of
    every ANN evaluation, staged so index-quality monitors read it instead
    of re-running the quadratic scan.

    In production this is exactly how recall monitoring works: the exact
    top-k for a fixed query panel is computed once per corpus snapshot
    (offline, quadratic, the cost you pay deliberately) and every index
    build / nightly health check joins against that table.
    ``ann_cosine_topk`` (the ground-truth query itself) does NOT read this
    stage — it IS the computation being measured.  Query-set geometry
    (N_QUERIES, TOP_K) is part of the stage key; the source key hashes
    ``embeddings.parquet``, so a regenerated corpus invalidates it."""
    from .similarity import N_QUERIES, TOP_K, cosine_topk

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), TOP_K)

    return _ensure(
        spark,
        f"ann_exact_topk_q{N_QUERIES}_k{TOP_K}", sf_dir, build, table="embeddings"
    )


def staged_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video tier's per-frame perceptual hash table
    (media_id, frame_idx, fhash), staged — the synthesize + Y4M demux +
    dHash Arrow pass is the tier's dominant per-clip cost and
    ``media_video_neardup_phash`` consumes the frame three times (banding
    plus both sides of the exact verify join); in production the ingest
    hashes each clip once and every dedup consumer reads the table.  The
    stage key folds the hash-construction source, so retuning the geometry
    (VPH_*, dHash) rebuilds it."""
    from .multimodal import (
        DHASH_H,
        DHASH_W,
        VPH_N_FRAMES,
        VPH_STRIDE,
        VPH_H,
        VPH_W,
        _build_frame_dhash,
        _build_mixed_raster,
        _build_video_codec,
        video_phash_frame,
    )

    def build() -> DataFrame:
        par = spark.sparkContext.defaultParallelism
        return video_phash_frame(spark, sf_dir).repartition(par)

    # the geometry constants AND the helper implementations live OUTSIDE the
    # builder's source, so fold them into the key explicitly —
    # _fn_version(video_phash_frame) alone would serve stale hashes across a
    # VPH_*/DHASH_* retune (caught when the 16x16 entropy fix landed) or an
    # edit to the frame-hash / codec / raster builders the query calls
    # (round-8 advice: the same staleness class, one closure deeper)
    geo = f"{VPH_W}x{VPH_H}x{VPH_N_FRAMES}s{VPH_STRIDE}_d{DHASH_W}x{DHASH_H}"
    helpers = hashlib.sha1(
        "|".join(
            _fn_version(f)
            for f in (_build_frame_dhash, _build_video_codec, _build_mixed_raster)
        ).encode()
    ).hexdigest()[:8]
    return _ensure(
        spark,
        f"video_phash_{geo}_{_fn_version(video_phash_frame)}_{helpers}",
        sf_dir,
        build,
    )
