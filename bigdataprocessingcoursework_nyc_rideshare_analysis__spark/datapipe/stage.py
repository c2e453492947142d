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

The stage is a CACHE, not a source of truth, written and reused by the
rule the bucketed warehouse tables share (``sources.tables.materialize``):
a stage lives at ``<stage root>/<source key>/<name>_<code fingerprint>``,
where the source key is the source parquet's file version and the code
fingerprint covers the builder and every package def or constant it
reaches (``registry.code_fingerprint``).  Regenerating testdata or editing
any reachable code re-keys exactly the stages it can change, the rebuild
deletes the directory it supersedes, and deleting the stage root is always
safe.  Every stage name is fixed (``ann_<method>_topk`` carries its one
runtime argument), so a name has exactly one live directory per source.
Results are byte-identical to the unstaged expressions (same JVM
functions, materialized through parquet's lossless string/array codecs),
so every DuckDB oracle is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import shingles_col
from ..sources import load_table
from ..sources.tables import materialize, read_parquet


def _ensure(
    spark: SparkSession, name: str, sf_dir: str, build, table: str = "documents"
) -> DataFrame:
    """Stage ``build(spark, sf_dir)`` as parquet by the shared rule, keyed by
    ``table``'s source files and ``build``'s code, and read it back.
    ``table`` picks the source (stages over ``embeddings`` must not survive
    an embeddings regeneration just because ``documents`` is unchanged).
    The read's schema is memoized on the ``_SUCCESS`` marker, so only the
    first read after a (re)build infers it."""

    def write(path: str) -> None:
        build(spark, sf_dir).write.mode("overwrite").parquet(path)

    return read_parquet(spark, materialize(sf_dir, table, name, build, write))


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
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        par = spark.sparkContext.defaultParallelism
        return featurize_documents(load_table(spark, sf_dir, "documents").repartition(par))

    return _ensure(spark, "doc_features", sf_dir, build)


def staged_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) 3-gram pairs, built FROM the staged token
    arrays (documents shorter than 3 tokens drop out via the empty-array
    explode, mirroring the oracles' ``WHERE len(toks) >= 3``)."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        feat = staged_features(spark, sf_dir)
        return feat.select("doc_id", F.explode(shingles_col("toks")).alias("shingle")).distinct()

    return _ensure(spark, "doc_shingles", sf_dir, build)


def staged_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed fixed-width segment table (doc_id, seg_idx, seg, h) the
    boilerplate family self-joins — staged instead of ``persist()``-ed so
    (a) the frequency branch and the join-back branch share one
    materialization WITHOUT leaking a cached frame into the session for
    its lifetime (round-3 advice), and (b) the two boilerplate queries
    share the segmentation work the way a real curation run would.  The
    stage key reaches the width (``SEG_TOKENS``)."""
    from .boilerplate import SEG_TOKENS, segment_table

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return segment_table(staged_features(spark, sf_dir), SEG_TOKENS).withColumn("h", F.md5("seg"))

    return _ensure(spark, "doc_segments", sf_dir, build)


def staged_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified exact near-dup pair set (doc_a, doc_b, jaccard ≥
    threshold) — the DETECTION stage's output, staged for its graph
    consumers (connected components, triangles, survivor selection).

    In a production pipeline pair detection runs once and writes this
    table; clustering and graph analytics read it — they do not re-run the
    shingle self-join each.  ``neardup_jaccard_pairs`` (the detection query
    itself) deliberately does NOT read this stage: it IS the computation
    being measured.  The stage key reaches the threshold
    (``JACCARD_THRESHOLD``)."""
    from .dedup import JACCARD_THRESHOLD, jaccard_pairs

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return jaccard_pairs(staged_shingles(spark, sf_dir), JACCARD_THRESHOLD)

    return _ensure(spark, "jaccard_pairs", sf_dir, build)


def staged_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact embedding near-dup pair set (vec_a, vec_b, cos_sim ≥
    threshold) — the all-pairs block-GEMM truth tier's output, staged for
    the screen's bound summary (``neardup_embedding_lsh``) the same way
    ``staged_jaccard_pairs`` serves the text tier: the offline quadratic
    detection runs once per corpus snapshot and every recall/precision
    consumer joins the table.  ``neardup_embedding_cosine`` (the truth
    query itself) deliberately does NOT read this stage — it IS the
    computation being measured.  The truth query itself is the builder, so
    its code and threshold key the stage; the source key hashes
    ``embeddings.parquet``."""
    from .dedup import q_neardup_embedding

    return _ensure(spark, "embedding_pairs", sf_dir, q_neardup_embedding, table="embeddings")


def staged_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's top-k TF-IDF terms (doc_id, term, df, w) — the sparse
    lexical vector table the similarity tier consumes.  Staged (the key
    reaches ``TFIDF_TOP_K``) instead of ``persist()``-ed so the AllPairs query's four
    consumers (norms, head/indexed split, and both verification sides)
    share one materialization without leaking a session-lifetime cached
    frame — same discipline as ``staged_segments``.  The weight is the
    smoothed ratio IDF ``tf·(N+1)/(df+1)`` (exact-integer multiply + one
    divide, bit-identical cross-engine; see ``tfidf_top_terms``)."""
    from .textstats import TFIDF_TOP_K, tfidf_scored_topk

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        # the documents source in staged_features above.
        par = spark.sparkContext.defaultParallelism
        return (
            tfidf_scored_topk(staged_features(spark, sf_dir), TFIDF_TOP_K)
            .select("doc_id", "term", "df", "w")
            .repartition(par)
        )

    return _ensure(spark, "tfidf_topk", sf_dir, build)


def staged_tfidf_sim_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefix-filtered AllPairs candidate pair table (doc_a, doc_b) for
    the TF-IDF similarity tier — the candidate-index build, staged (round-6
    verdict item 4's suggested fix for the query's sweep-time swing).

    In production the AllPairs candidate index is built once per corpus
    snapshot — the same offline cadence as the staged ANN panels — and
    similarity queries score + verify candidates against the vector table;
    they do not re-run the index build per query.  Retuning or re-deriving
    the filter re-keys the stage (see ``_ensure``).  Lossless by
    construction (see ``textstats.tfidf_sim_candidate_pairs``), so the
    DuckDB oracle — which states the naive all-shared-terms semantics — is
    unchanged."""
    from .textstats import tfidf_sim_candidate_pairs

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        # spread like staged_tfidf_topk: the distinct's AQE-coalesced output
        # would otherwise land as one rowgroup and single-thread consumers
        par = spark.sparkContext.defaultParallelism
        return tfidf_sim_candidate_pairs(staged_tfidf_topk(spark, sf_dir)).repartition(par)

    return _ensure(spark, "tfidf_sim_cand", sf_dir, build)


def staged_tfidf_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compacted per-document sparse vector table (doc_id, entries:
    array<struct<term,w>> term-sorted, nrm) — the similarity tier's scoring
    artifact, staged beside the candidate index.  Bounded by k terms per
    document, so the whole table is broadcast-sized relative to the corpus;
    the term-sorted entry array keeps the dot product's float summation
    order deterministic (the 9-dp round absorbs the engine-vs-engine ulp)."""
    from .textstats import tfidf_doc_vectors

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        par = spark.sparkContext.defaultParallelism
        return tfidf_doc_vectors(staged_tfidf_topk(spark, sf_dir)).repartition(par)

    return _ensure(spark, "tfidf_doc_vecs", sf_dir, build)


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
    ``staged_jaccard_pairs``).  The stage key reaches the score
    construction, so retuning ``QUALITY_WEIGHTS`` or the feature
    expressions rebuilds it."""
    from .textstats import _quality_score_frame

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        par = spark.sparkContext.defaultParallelism
        return _quality_score_frame(spark, sf_dir).repartition(par)

    return _ensure(spark, "quality_scores", sf_dir, build)


def staged_ann_method_topk(spark: SparkSession, sf_dir: str, method: str) -> DataFrame:
    """One ANN tier's top-k result table (query_id, neighbor_id, cos_sim,
    rank) over the standard query panel, staged — the nightly index-build
    output a recall monitor consumes.

    In production each index build (LSH / IVF / PQ / IVF-PQ) writes its
    panel results as a table; quality monitoring joins those tables against
    the staged exact truth — it does NOT re-probe every index per report
    run.  The per-method registry queries (``ann_lsh_topk`` …) deliberately
    do NOT read this stage: each IS the index probe being measured.  The
    probe itself is the builder, so its key reaches the query-panel
    geometry and only its own tier's constants and trainers: retuning one
    tier invalidates only its own staged results.  The source key hashes
    ``embeddings.parquet``."""
    from .similarity import ANN_METHODS

    return _ensure(
        spark, f"ann_{method}_topk", sf_dir, dict(ANN_METHODS)[method], table="embeddings"
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
    stage — it IS the computation being measured.  The stage key reaches
    the query-set geometry (N_QUERIES, TOP_K); the source key hashes
    ``embeddings.parquet``, so a regenerated corpus invalidates it."""
    from .similarity import N_QUERIES, TOP_K, cosine_topk

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), TOP_K)

    return _ensure(spark, "ann_exact_topk", sf_dir, build, table="embeddings")


def staged_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video tier's per-frame perceptual hash table
    (media_id, frame_idx, fhash), staged — the synthesize + Y4M demux +
    dHash Arrow pass is the tier's dominant per-clip cost and
    ``media_video_neardup_phash`` consumes the frame three times (banding
    plus both sides of the exact verify join); in production the ingest
    hashes each clip once and every dedup consumer reads the table.  The
    stage key reaches the hash construction and its geometry (VPH_*,
    dHash), so retuning either rebuilds it."""
    from .multimodal import video_phash_frame

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        par = spark.sparkContext.defaultParallelism
        return video_phash_frame(spark, sf_dir).repartition(par)

    return _ensure(spark, "video_phash", sf_dir, build)
