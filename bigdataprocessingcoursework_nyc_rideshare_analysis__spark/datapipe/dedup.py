"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Engine extensions for LLM training-data pipelines (no reference counterpart;
SURVEY.md §2.9).  Hot-path logic is JVM-side built-ins — hashing, array ops,
aggregations — except where a vectorized Arrow batch demonstrably beats the
SQL formulation (SimHash bit-majority, blocked cosine GEMM), in which case
the NumPy kernel is bit-identical to the SQL it replaces.

Scale ladder (100 TB of documents):
- ``dedup_exact``: hash-groupBy on a fingerprint of normalized text.  One
  shuffle keyed by a 128-bit hash → perfectly uniform partitioning.
- ``neardup_jaccard_pairs``: exact shingle-set Jaccard via a shingle-keyed
  self-join.  Quadratic in documents-per-shingle — correct but only viable
  below ~10^6 docs; it is the *oracle-checkable ground truth* for the LSH
  path.
- ``neardup_minhash_lsh``: MinHash signatures (xxhash64 per permutation) +
  banded LSH bucketing; candidate pairs are verified with exact Jaccard.
  Near-linear: cost ∝ docs × bands + collisions.  This is the one you run at
  100 TB (not SQL-expressible → rows-only driver check; pytest verifies it
  against the exact-Jaccard ground truth).
- ``dedup_simhash``: 64-bit SimHash + 4×16-bit chunk bucketing (pigeonhole:
  hamming ≤ 3 ⟹ ≥1 identical chunk), hamming verified with
  ``bit_count(xor)``.  Also rows-only + pytest-verified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.text import shingles_col, tokens_col, tokens_of
from ..registry import register
from ..sources import load_table

JACCARD_THRESHOLD = 0.8
MINHASH_PERMS = 32
LSH_BANDS = 8  # 8 bands × 4 rows; P(candidate | j=0.8) ≈ 1-(1-0.8^4)^8 ≈ 0.986
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3


# --- exact ------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS rep_doc_id,
       COUNT(*) AS n_dupes
FROM documents GROUP BY 1
"""


@register("dedup_exact", oracle=_EXACT_ORACLE, tags=("datapipe", "dedup"))
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text → representative id +
    duplicate count.  Downstream keeps ``rep_doc_id`` rows only.

    Reads the staged feature frame — parquet column pruning fetches only
    (doc_id, fingerprint), never the text bytes (``datapipe.stage``)."""
    from .stage import staged_features

    feat = staged_features(spark, sf_dir)
    return feat.groupBy("fingerprint").agg(
        F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_dupes")
    )


# --- incremental (cross-snapshot) dedup -------------------------------------

INCR_MOD = 7  # deterministic stand-in ingest split: doc_id % 7 == 0 is "incoming"

_INCREMENTAL_ORACLE = f"""
WITH f AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), incoming AS (
  SELECT * FROM f WHERE doc_id % {INCR_MOD} = 0
), existing AS (
  SELECT * FROM f WHERE doc_id % {INCR_MOD} <> 0
), keep AS (
  SELECT i.doc_id, i.fingerprint,
         MIN(i.doc_id) OVER (PARTITION BY i.fingerprint) AS rep
  FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fingerprint = i.fingerprint)
)
SELECT doc_id, fingerprint FROM keep WHERE doc_id = rep
"""


@register("incremental_dedup_new_docs", oracle=_INCREMENTAL_ORACLE, tags=("datapipe", "dedup"))
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup — the operation every RECURRING ingest runs: of
    an incoming batch, keep only documents whose fingerprint (a) does not
    already exist in the standing corpus (anti-join) and (b) is not
    duplicated within the batch itself (per-fingerprint min-id window).

    The ingest split is a deterministic stand-in (``doc_id % INCR_MOD == 0``
    is the incoming batch); a production run substitutes the new snapshot for
    ``incoming`` and the staged corpus fingerprints for ``existing``.

    Scale shape: both sides come off the staged feature frame (fingerprint
    column only — parquet prunes the text), the anti-join shuffles on the
    128-bit fingerprint (perfectly uniform key, no skew possible), and the
    within-batch window shares that same hash partitioning, so AQE plans
    one exchange for the batch side.  At 100 TB the standing-corpus side is
    a fingerprint-only columnar table a fraction of corpus size."""
    from .stage import staged_features

    feat = staged_features(spark, sf_dir).select("doc_id", "fingerprint")
    incoming = feat.filter(F.col("doc_id") % INCR_MOD == 0)
    existing = feat.filter(F.col("doc_id") % INCR_MOD != 0)
    from pyspark.sql import Window

    fresh = incoming.join(existing, "fingerprint", "left_anti")
    rep = F.min("doc_id").over(Window.partitionBy("fingerprint"))
    return (
        fresh.withColumn("rep", rep)
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", "fingerprint")
    )


# --- exact n-gram Jaccard (ground truth) ------------------------------------

# CTE chain shared with datapipe.cluster's recursive connected-components
# oracle (which needs the pair set as a named CTE, not a standalone query)
_JACCARD_CTES = f"""t AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM t WHERE len(toks) >= 3
), sz AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jpairs AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_common AS DOUBLE) / (x.n + y.n - i.n_common) AS jaccard
  FROM inter i JOIN sz x ON i.doc_a = x.doc_id JOIN sz y ON i.doc_b = y.doc_id
  WHERE CAST(i.n_common AS DOUBLE) / (x.n + y.n - i.n_common) >= {JACCARD_THRESHOLD}
)"""

_JACCARD_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT doc_a, doc_b, jaccard FROM jpairs
"""


def shingle_sets(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs; documents shorter than k tokens drop
    out (mirrored by ``WHERE len(toks) >= 3`` in the oracle).

    Two-step select: tokens are materialized as a column *before* shingling
    so the regex tokenization runs once per document, not once per
    ``element_at`` (see ``functions.text.shingles_col``)."""
    toked = docs.select("doc_id", tokens_col("text").alias("toks"))
    return (
        toked.select("doc_id", F.explode(shingles_col("toks", k)).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact pairwise Jaccard over (doc_id, shingle) sets via self-join."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sx = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sy = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sx), "doc_a")
        .join(F.broadcast(sy), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@register("neardup_jaccard_pairs", oracle=_JACCARD_ORACLE, tags=("datapipe", "dedup"))
def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shingle set feeds both join sides and the size table: every
    # consumer re-reads the staged parquet (tokenize/shingle/distinct ran
    # exactly once, at stage-build — the "materialize to parquet" 100 TB
    # shape; an in-memory persist() here would leak a cached copy per
    # invocation and could not hold a corpus-sized frame anyway)
    from .stage import staged_shingles

    return jaccard_pairs(staged_shingles(spark, sf_dir), JACCARD_THRESHOLD)


# --- MinHash + LSH (scale path) ---------------------------------------------


def minhash_signatures(sh: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """Per-doc MinHash signature: hash each shingle *string* once, then
    derive permutation i as ``xxhash64(base_hash, i)`` — rehashing a fixed
    8-byte long per permutation instead of re-reading the variable-length
    string ``perms`` times (the string form measured ~2× slower at 32
    permutations).  One aggregation, ``perms`` min columns."""
    hashed = sh.select("doc_id", F.xxhash64("shingle").alias("h"))
    aggs = [F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"mh{i}") for i in range(perms)]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sig: DataFrame, perms: int = MINHASH_PERMS, bands: int = LSH_BANDS) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band are
    candidates.  Dedups pairs that collide in multiple bands."""
    rows_per_band = perms // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    stacked = banded.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket")) for b in range(bands)])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup detection, candidates verified with exact
    Jaccard.  Same output contract as ``neardup_jaccard_pairs`` (minus pairs
    LSH misses below ~0.9 recall); pytest cross-checks the two.  This is
    the production screen (corpus-linear; the scaling sweeps measure it);
    the registered ``neardup_minhash_lsh`` wraps it in the precision/recall
    bound summary the driver's hash gate can check.

    Verification joins each candidate pair to per-doc *hashed shingle sets*
    and intersects them JVM-side (``array_intersect`` on long arrays) — two
    joins against a |docs|-row table instead of the ground-truth path's two
    shingle-level fact joins.  Collision risk of hashing shingles to 64-bit
    is ~|shingles|²/2⁶⁵ (≈10⁻⁹ here) — fine for the approximate path, kept
    out of the exact oracle-checked one."""
    from .stage import staged_shingles

    # feeds signatures + the verify sets: both re-read the staged parquet
    sh = staged_shingles(spark, sf_dir)
    candidates = lsh_candidate_pairs(minhash_signatures(sh))
    sets = sh.select("doc_id", F.xxhash64("shingle").alias("h")).groupBy("doc_id").agg(
        F.collect_set("h").alias("hs")
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    n_common = F.size(F.array_intersect("ha", "hb")).cast("long")
    na, nb = F.size("ha").cast("long"), F.size("hb").cast("long")
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_common.cast("double") / (na + nb - n_common)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


#: Corpus-level recall floor the registered MinHash screen is gated on —
#: the bar ``test_minhash_lsh_vs_exact_jaccard`` has enforced since round
#: 2 (32 perms / 8 bands: collision p = j⁴ per band, 1−(1−j⁴)⁸ ≈ 0.97 at
#: j = 0.8; measured recall 1.0 at sf0.001 and sf0.01).
MINHASH_RECALL_FLOOR = 0.8
#: Pairs at or above this exact Jaccard must ALL be found — the
#: no-missed-near-identicals guarantee (banding collision p ≥ 0.996 at
#: j = 0.95, and exact duplicates collide with certainty).
STRONG_JACCARD = 0.95

_MINHASH_BOUND_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(COUNT(*) FILTER (WHERE jaccard >= {STRONG_JACCARD}) AS BIGINT) AS n_strong_true_pairs,
       TRUE AS found_subset_of_truth,
       TRUE AS strong_pairs_all_found,
       TRUE AS recall_ge_floor
FROM jpairs
"""


@register("neardup_minhash_lsh", oracle=_MINHASH_BOUND_ORACLE, tags=("datapipe", "dedup", "lsh"))
def q_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the MinHash+LSH screen (round-10
    oracle-ization, the ANN bound-summary pattern): one row relating the
    screen's output (``minhash_lsh_detail``) to the exact-Jaccard truth
    tier — n_true_pairs / n_strong_true_pairs are EXACT columns the DuckDB
    twin recomputes from the documents, and three Spark-computed booleans
    it asserts TRUE: every found pair is a true pair (the exact-verify
    no-false-positive guarantee), every strong (j ≥ {STRONG_JACCARD})
    pair is found (the banding pigeonhole guarantee), and corpus recall
    clears ``MINHASH_RECALL_FLOOR``.  A banding/signature regression that
    silently drops recall now FAILS the driver's hash gate.

    Plan: the screen (the measured leg) is corpus-linear as before; the
    truth side reads ``staged_jaccard_pairs`` (the detection output its
    graph consumers already share) — one pair-set-sized FULL OUTER join
    and one 1-row aggregate after that."""
    from .stage import staged_jaccard_pairs

    # One FULL OUTER join reads the screen once, inside one plan: its rows
    # are the matched pairs, the truth-only pairs and the found-only pairs
    # (the false positives), each counted by its side's marker.  COUNT of
    # a CASE is 0 over an empty pair set, never NULL (the oracle emits
    # 0 / TRUE there).
    found = minhash_lsh_detail(spark, sf_dir).select("doc_a", "doc_b", F.lit(True).alias("in_found"))
    truth = staged_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard", F.lit(True).alias("in_truth")
    )
    hit = F.col("in_truth") & F.col("in_found")
    strong = F.col("jaccard") >= STRONG_JACCARD
    stats = truth.join(found, ["doc_a", "doc_b"], "full").agg(
        F.count("in_truth").alias("n_true_pairs"),
        F.count(F.when(strong, 1)).alias("n_strong_true_pairs"),
        F.count(F.when(strong & hit, 1)).alias("n_strong_found"),
        F.count(F.when(hit, 1)).alias("n_found_true"),
        F.count(F.when(F.col("in_truth").isNull(), 1)).alias("n_false_positives"),
    )
    return stats.select(
        "n_true_pairs",
        "n_strong_true_pairs",
        (F.col("n_false_positives") == 0).alias("found_subset_of_truth"),
        (F.col("n_strong_found") == F.col("n_strong_true_pairs")).alias("strong_pairs_all_found"),
        F.when(F.col("n_true_pairs") == 0, F.lit(True))
        .otherwise(
            F.col("n_found_true").cast("double") / F.col("n_true_pairs")
            >= MINHASH_RECALL_FLOOR
        )
        .alias("recall_ge_floor"),
    )


# --- embedding-cosine near-dup ----------------------------------------------

COSINE_DUP_THRESHOLD = 0.45  # synthetic corpus max pairwise cosine ≈ 0.6; 0.45 keeps a small nonempty pair set

_EMB_DUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
)
SELECT * FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])) AS DOUBLE)))
           AS cos_sim
  FROM e a, e b
  WHERE a.vec_id < b.vec_id
) WHERE cos_sim >= {COSINE_DUP_THRESHOLD}
"""


@register("neardup_embedding_cosine", oracle=_EMB_DUP_ORACLE, tags=("datapipe", "dedup", "similarity"))
def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via *block matrix multiply*.

    All-pairs cosine is the oracle-checkable ground truth for embedding
    dedup, but evaluating it pair-at-a-time in Catalyst higher-order
    functions interprets ~|pairs|×dim lambda steps (measured 38 s for 2M
    pairs).  Instead: partition vectors into blocks, cross-join the upper
    triangle of block pairs, and compute each block-pair's cosine matrix
    with one NumPy int64 matmul inside Arrow-batched ``mapInPandas`` —
    exact integer arithmetic on the same quantized vectors, so results stay
    bit-identical to the SQL oracle.  Blocking shards the work across
    executors with nothing collected or broadcast, but the COMPUTE is still
    quadratic — O((n/B)²) block pairs — so this is the oracle-checked
    ground truth (like ``neardup_jaccard_pairs``), NOT the scale path.  At
    100 TB use ``neardup_embedding_lsh``: LSH-bucketed candidate generation
    + exact cosine verify, corpus-linear like the MinHash text path.

    (Threshold 0.45: synthetic random corpus, max pairwise cosine ≈ 0.6.)"""
    from ..functions.vector import quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_block_pairs(
        emb.select("vec_id", quantize_vec("embedding").alias("qv")),
        threshold=COSINE_DUP_THRESHOLD,
    )


def cosine_block_pairs(
    qvecs: DataFrame, threshold: float, block_size: int = 1024
) -> DataFrame:
    """All-pairs cosine ≥ threshold over quantized vectors, blocked.

    ``qvecs``: (vec_id, qv array<bigint>).  Blocks of ``block_size`` vectors
    are packed with ``collect_list``; the upper-triangle block cross-join
    yields O((n/B)²) rows each carrying two dense blocks; NumPy does the
    exact int64 matmul.  The UDF is a closure (pickle-by-value rule)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cos_sim", DoubleType()),
        ]
    )

    blocks = (
        qvecs.withColumn("bid", F.floor(F.col("vec_id") / block_size))
        .groupBy("bid")
        .agg(F.collect_list(F.struct("vec_id", "qv")).alias("vecs"))
    )
    a = blocks.select(F.col("bid").alias("bid_a"), F.col("vecs").alias("vecs_a"))
    b = blocks.select(F.col("bid").alias("bid_b"), F.col("vecs").alias("vecs_b"))
    block_pairs = a.join(b, F.col("bid_a") <= F.col("bid_b"))

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):  # rows are block-pairs; itertuples skips per-row Series construction
                ia = np.array([r["vec_id"] for r in row.vecs_a], dtype=np.int64)
                ib = np.array([r["vec_id"] for r in row.vecs_b], dtype=np.int64)
                ma = np.array([r["qv"] for r in row.vecs_a], dtype=np.int64)
                mb = np.array([r["qv"] for r in row.vecs_b], dtype=np.int64)
                dots = ma @ mb.T  # exact int64
                na = np.sqrt((ma * ma).sum(axis=1).astype(np.float64))
                nb = np.sqrt((mb * mb).sum(axis=1).astype(np.float64))
                cos = dots.astype(np.float64) / np.outer(na, nb)
                ai, bi = np.nonzero(cos >= threshold)
                keep = ia[ai] < ib[bi]  # upper triangle incl. cross-block
                out_a.append(ia[ai][keep])
                out_b.append(ib[bi][keep])
                out_c.append(cos[ai[keep], bi[keep]])
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "cos_sim": np.concatenate(out_c),
                    }
                )

    return block_pairs.mapInPandas(score, schema=out_schema)


#: LSH geometry for embedding near-dup: a cos-0.45 pair agrees with a random
#: hyperplane with p = 1 − acos(0.45)/π ≈ 0.65, so 4-bit tables collide with
#: p⁴ ≈ 0.18 and 12 OR-ed tables reach recall 1 − (1 − 0.18)¹² ≈ 0.9.
#: Fewer bits than the ANN index (6) because the dup threshold is a *lower*
#: cosine than top-k neighbors — looser buckets buy recall.  Bits scale up
#: with the corpus (see ``q_neardup_embedding_lsh``) so bucket population —
#: and with it per-bucket verify cost — stays bounded as n grows.
EMB_LSH_TABLES = 12
EMB_LSH_BITS = 4
EMB_LSH_MAX_BITS = 12
EMB_LSH_BUCKET_TARGET = 512  # aim ≈ this many vectors per bucket
EMB_LSH_SEED = 911


def embedding_lsh_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, the 100 TB path: random-hyperplane LSH
    buckets the corpus, then each bucket is verified with ONE exact int64
    GEMM — identical quantized arithmetic to the all-pairs ground truth, so
    every emitted ``cos_sim`` is bit-identical to
    ``neardup_embedding_cosine``'s (asserted in ``test_datapipe.py``).

    Scale shape: cost ∝ corpus (signatures) + Σ_buckets |bucket|² where
    |bucket| ≈ ``EMB_LSH_BUCKET_TARGET`` by construction — bits grow with
    log₂(n), keeping per-bucket verify constant, so total work is
    corpus-linear.  The candidate *pairs* are never materialized as rows:
    the only shuffle is corpus × tables bucket assignments (an earlier
    form joined 1M+ candidate pairs and scored them with interpreted
    higher-order-function cosine — per-pair HOF evaluation was the whole
    cost).  Pytest measures recall against the all-pairs truth; the
    registered ``neardup_embedding_lsh`` wraps this screen in the
    precision/recall bound summary.  Mirrors the text-dedup pairing of
    ``neardup_jaccard_pairs`` / ``neardup_minhash_lsh``."""
    import math

    import numpy as np

    from ..functions.vector import quantize_vec
    from .similarity import lsh_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # parquet metadata count — no data read
    bits = min(
        EMB_LSH_MAX_BITS, max(EMB_LSH_BITS, math.ceil(math.log2(max(1, n / EMB_LSH_BUCKET_TARGET))))
    )
    bucketed = lsh_buckets(emb, "embedding", EMB_LSH_TABLES, bits, EMB_LSH_SEED)
    qv = emb.select("vec_id", quantize_vec("embedding").alias("qv"))
    grouped = (
        bucketed.join(qv, "vec_id")
        .groupBy("table", "bucket")
        .agg(F.collect_list(F.struct("vec_id", "qv")).alias("vecs"))
    )
    threshold = COSINE_DUP_THRESHOLD

    def score(batches):
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ids = np.array([r["vec_id"] for r in row.vecs], dtype=np.int64)
                m = np.array([r["qv"] for r in row.vecs], dtype=np.int64)
                dots = m @ m.T  # exact int64, |bucket|² small by construction
                norms = np.sqrt((m * m).sum(axis=1).astype(np.float64))
                cos = dots.astype(np.float64) / np.outer(norms, norms)
                ai, bi = np.nonzero(np.triu(cos >= threshold, k=1))
                lo = np.minimum(ids[ai], ids[bi])
                hi = np.maximum(ids[ai], ids[bi])
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cos[ai, bi])
            if out_a:
                yield pd.DataFrame(
                    {
                        "vec_a": np.concatenate(out_a),
                        "vec_b": np.concatenate(out_b),
                        "cos_sim": np.concatenate(out_c),
                    }
                )

    pairs = grouped.mapInPandas(score, schema="vec_a long, vec_b long, cos_sim double")
    # cos_sim is bit-identical across tables (same exact int64 arithmetic),
    # so distinct() collapses multi-table collisions without a tolerance
    return pairs.distinct()


#: Corpus-level recall floor for the registered embedding-LSH screen — the
#: bar ``test_embedding_lsh_vs_exact_cosine`` has enforced since the tier
#: landed (12 OR-ed 4-bit tables ≈ 0.9 design recall at the 0.45
#: threshold; measured 1.0 at sf0.001, 0.93 at sf0.01).
EMB_LSH_RECALL_FLOOR = 0.7

_EMB_LSH_BOUND_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS found_subset_of_truth,
       TRUE AS sims_match_truth,
       TRUE AS recall_ge_floor
FROM ({_EMB_DUP_ORACLE}) tp
"""


@register(
    "neardup_embedding_lsh", oracle=_EMB_LSH_BOUND_ORACLE, tags=("datapipe", "dedup", "similarity", "lsh")
)
def q_neardup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the embedding-LSH screen (round-10
    oracle-ization): one row relating ``embedding_lsh_detail``'s output to
    the all-pairs cosine truth tier — n_true_pairs is an EXACT column the
    DuckDB twin recomputes, and three Spark-computed booleans it asserts
    TRUE: every found pair is a true pair (bucket verify uses the exact
    quantized cosine), every found pair's cos_sim is BIT-IDENTICAL to the
    truth tier's (same int64 arithmetic — the strongest cross-surface
    check available), and corpus recall clears ``EMB_LSH_RECALL_FLOOR``.

    Plan: the screen stays corpus-linear (signatures + bounded-bucket
    GEMMs); the truth side reads ``staged_embedding_pairs`` (the offline
    all-pairs table, staged exactly like the text tier's
    ``staged_jaccard_pairs``); one pair-set-sized FULL OUTER join and one
    1-row aggregate after that."""
    from .stage import staged_embedding_pairs

    # One FULL OUTER join reads the screen once (see q_neardup_minhash).
    found = embedding_lsh_detail(spark, sf_dir).select(
        "vec_a", "vec_b", F.col("cos_sim").alias("found_sim"), F.lit(True).alias("in_found")
    )
    truth = staged_embedding_pairs(spark, sf_dir).select(
        "vec_a", "vec_b", "cos_sim", F.lit(True).alias("in_truth")
    )
    hit = F.col("in_truth") & F.col("in_found")
    stats = truth.join(found, ["vec_a", "vec_b"], "full").agg(
        F.count("in_truth").alias("n_true_pairs"),
        F.count(F.when(hit, 1)).alias("n_found_true"),
        F.count(F.when(hit & (F.col("found_sim") != F.col("cos_sim")), 1)).alias("n_sim_mismatch"),
        F.count(F.when(F.col("in_truth").isNull(), 1)).alias("n_false_positives"),
    )
    return stats.select(
        "n_true_pairs",
        (F.col("n_false_positives") == 0).alias("found_subset_of_truth"),
        (F.col("n_sim_mismatch") == 0).alias("sims_match_truth"),
        F.when(F.col("n_true_pairs") == 0, F.lit(True))
        .otherwise(
            F.col("n_found_true").cast("double") / F.col("n_true_pairs")
            >= EMB_LSH_RECALL_FLOOR
        )
        .alias("recall_ge_floor"),
    )


# --- SimHash ----------------------------------------------------------------


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """64-bit SimHash from raw documents (tokenize + shingle inline) — see
    ``simhash_from_shingles`` for the semantics; staged-pipeline callers
    pass a pre-materialized (doc_id, shingle) frame instead."""
    return simhash_from_shingles(shingle_sets(docs), bits)


def simhash_from_shingles(sh: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """64-bit SimHash over the *shingle* set: bit b is the sign of the sum
    over features of ±1 according to bit b of ``xxhash64(shingle)``.

    Hybrid plan: shingling + ``xxhash64`` stay JVM-side (whole-stage
    codegen), ``collect_list`` gathers each doc's feature hashes (one
    shuffle of longs), and the 64 per-bit majority votes run as one
    Arrow-batched NumPy pass (``unpackbits`` → ``add.reduceat`` →
    ``packbits``).  This replaced a pure-SQL 64-conditional-sum aggregate
    that was 3× slower: 64 ``CASE WHEN`` sums over every (doc, shingle) row
    blow up the codegen method past JIT limits, while the bit-plane matrix
    is exactly the vectorized shape NumPy crunches in microseconds.  The
    result is bit-identical to the SQL formulation (majority vote
    ``2·ones_b > n`` ⟺ ``Σ±1 > 0``).

    Shingles, not unigrams: with a small vocabulary every document shares
    nearly the same token set and unigram SimHash collapses (everything
    looks like a near-dup); 3-token shingles restore discrimination."""
    import numpy as np
    import pandas as pd

    assert bits == 64, "bit-plane packing below is 64-bit (one int64 per doc)"
    hashes = (
        sh.select("doc_id", F.xxhash64("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_list("h").alias("hs"))
    )

    # closure, not module-level: cloudpickle must serialize by value
    # (workers may not have this package importable — see streaming.stateful)
    def sig(batches):
        for pdf in batches:
            lens = pdf["hs"].map(len).to_numpy(dtype=np.int64)
            flat = np.concatenate(pdf["hs"].to_numpy()).astype(np.int64)
            bit_planes = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            ones = np.add.reduceat(bit_planes, offsets, axis=0)
            majority = (2 * ones > lens[:, None]).astype(np.uint8)
            sims = np.packbits(majority, axis=1, bitorder="little").view(np.int64).ravel()
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sims})

    return hashes.mapInPandas(sig, schema="doc_id long, simhash long")


def banded_hamming_pairs(
    sig: DataFrame, id_col: str, hash_col: str, bands: int, max_hamming: int
) -> DataFrame:
    """Pairs of rows whose 64-bit ``hash_col`` values differ in at most
    ``max_hamming`` bits: ``(<stem>_a, <stem>_b, hamming)`` with
    ``<stem>_a < <stem>_b``, where ``<stem>`` is ``id_col`` without its
    ``_id`` suffix.

    The hash is cut into ``bands`` equal bit bands; a self-join on
    (band, band value, id_a < id_b) proposes candidates, ``distinct`` folds
    pairs that match in several bands, and ``bit_count(xor)`` verifies.
    With ``max_hamming < bands`` the pigeonhole principle makes the search
    exact: two hashes within ``max_hamming`` bits agree on some whole band.
    The candidate set is output-bounded plus band-collision noise, never
    all-pairs, and only the 64-bit hashes shuffle."""
    stem = id_col.removesuffix("_id")
    chunk_bits = 64 // bands
    mask = (1 << chunk_bits) - 1
    stacked = sig.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(hash_col, c * chunk_bits)
                        .bitwiseAND(F.lit(mask).cast("long"))
                        .alias("val"),
                    )
                    for c in range(bands)
                ]
            )
        ).alias("cv"),
    ).select(id_col, hash_col, F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    a = stacked.alias("a")
    b = stacked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(f"{stem}_a"),
            F.col(f"b.{id_col}").alias(f"{stem}_b"),
            F.col(f"a.{hash_col}").alias("h_a"),
            F.col(f"b.{hash_col}").alias("h_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(f"{stem}_a", f"{stem}_b", "hamming")
    )


def dedup_simhash_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ 3, found via 4×16-bit chunk
    bucketing (pigeonhole guarantee), verified with ``bit_count(xor)``
    (``banded_hamming_pairs``).  The registered ``dedup_simhash`` wraps
    this screen in the exact-duplicate bound summary; golden rows pin this
    pair surface."""
    from .stage import staged_shingles

    sig = simhash_from_shingles(staged_shingles(spark, sf_dir))
    return banded_hamming_pairs(sig, "doc_id", "simhash", 4, SIMHASH_MAX_HAMMING)


_SIMHASH_BOUND_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT CAST(COUNT(*) AS BIGINT) AS n_identical_pairs,
       TRUE AS identical_pairs_found_h0,
       TRUE AS all_pairs_within_threshold
FROM jpairs WHERE jaccard >= 1.0
"""


@register("dedup_simhash", oracle=_SIMHASH_BOUND_ORACLE, tags=("datapipe", "dedup"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the SimHash screen (round-10 oracle-ization):
    one row relating ``dedup_simhash_detail``'s pairs to the one exact
    relation SimHash guarantees — documents with IDENTICAL shingle sets
    (exact Jaccard 1.0) have identical fingerprints, so every such pair
    must appear at hamming 0.  n_identical_pairs is an EXACT column the
    DuckDB twin recomputes from the documents; the booleans assert the
    invariance (the ``test_exact_duplicates_have_identical_simhash`` pin,
    now driver-gated) and that every emitted pair respects the
    ≤ {SIMHASH_MAX_HAMMING}-bit threshold.  (No recall column by design:
    unlike MinHash-vs-Jaccard, SimHash hamming has no exact truth tier to
    floor against — its discrimination behavior is pinned by goldens on
    the detail surface.)

    Plan: the screen is unchanged (banded join over 64-bit fingerprints);
    the identical-pair truth is the ``staged_jaccard_pairs`` table
    filtered to jaccard = 1.0 — one pair-set-sized FULL OUTER join and one
    1-row aggregate after that."""
    from .stage import staged_jaccard_pairs

    # One FULL OUTER join reads the screen once (see q_neardup_minhash);
    # hamming is NULL exactly on the identical pairs the screen missed.
    found = dedup_simhash_detail(spark, sf_dir)
    identical = staged_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= 1.0).select(
        "doc_a", "doc_b", F.lit(True).alias("in_truth")
    )
    stats = identical.join(found, ["doc_a", "doc_b"], "full").agg(
        F.count("in_truth").alias("n_identical_pairs"),
        F.count(F.when(F.col("in_truth") & (F.col("hamming") == 0), 1)).alias("n_found_h0"),
        F.count(F.when(F.col("hamming") > SIMHASH_MAX_HAMMING, 1)).alias("n_over_threshold"),
    )
    return stats.select(
        "n_identical_pairs",
        (F.col("n_found_h0") == F.col("n_identical_pairs")).alias("identical_pairs_found_h0"),
        (F.col("n_over_threshold") == 0).alias("all_pairs_within_threshold"),
    )


# --- exact Jaccard via prefix filtering (PPJoin-style) ----------------------


def prefix_filter_jaccard(sh: DataFrame, threshold: float) -> DataFrame:
    """EXACT Jaccard >= threshold pairs without the all-pairs shingle
    self-join: prefix filtering (the SSJoin/PPJoin family, Chaudhuri et al.
    2006 / Xiao et al. 2008).

    Order every document's shingles by global rarity (df asc, shingle asc —
    any total order works); with prefix length ``floor((1-t)·|S|)+1``, two
    sets with Jaccard >= t MUST collide inside their prefixes (pigeonhole
    on the ``(1-t)|S|`` elements a t-similar pair may miss), so joining
    prefixes only is lossless.  Rare-first ordering makes those prefix
    buckets the SMALLEST ones — the hot shingles that explode the
    ground-truth self-join never enter the candidate join.  Candidates are
    then verified exactly on shingle strings (no hashing — this path is
    oracle-checked, and the 64-bit set-hash shortcut used by the LSH
    verifier is documented as approximate-only).

    Cost: df-agg (one shuffle) + per-doc rank window + prefix self-join on
    rare shingles + candidate-restricted intersection joins.  Every stage
    is hash-keyed; nothing is quadratic in hot-shingle df."""
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    nw = Window.partitionBy("doc_id")
    ranked = sh.join(df, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(nw).alias("n"),
    )
    # prefix length floor((1-t)·n)+1 — computed with an epsilon nudge:
    # (1-0.8) floats to 0.19999…, so (1-t)·n lands a hair BELOW the exact
    # integer for n divisible by 5 and floor() would cut the prefix one
    # short (lossy!).  The nudge can only ever LENGTHEN the prefix by one
    # (more candidates, still lossless).  Caught by the sf0.1 sweep: one
    # true pair of 256 missed without it.
    prefix = ranked.filter(
        F.col("pos") <= F.floor((1 - threshold) * F.col("n") + 1e-9) + 1
    ).select("doc_id", "shingle")
    a = prefix.alias("pa")
    b = prefix.alias("pb")
    cand = (
        a.join(
            b,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b"))
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sx = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sy = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sx, "doc_a")
        .join(sy, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@register("neardup_prefix_filter", oracle=_JACCARD_ORACLE, tags=("datapipe", "dedup", "r4"))
def q_neardup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs (Jaccard >= 0.8) via prefix filtering — the
    scalable EXACT alternative to both the all-pairs ground truth (same
    output, quadratic in hot shingles) and MinHash LSH (linear but
    approximate).  Shares the staged shingle frame; shares the all-pairs
    query's oracle verbatim, which IS the exactness claim."""
    from .stage import staged_shingles

    return prefix_filter_jaccard(staged_shingles(spark, sf_dir), JACCARD_THRESHOLD)


# --- asymmetric containment (derivation detection) ---------------------------

CONTAINMENT_THRESHOLD = 0.9
CONTAINMENT_MIN_SHINGLES = 5

_CONTAINMENT_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT contained_doc, container_doc, containment FROM (
  SELECT i.doc_a AS contained_doc, i.doc_b AS container_doc,
         CAST(i.n_common AS DOUBLE) / x.n AS containment, x.n AS n_contained
  FROM inter i JOIN sz x ON x.doc_id = i.doc_a
  UNION ALL
  SELECT i.doc_b, i.doc_a,
         CAST(i.n_common AS DOUBLE) / y.n AS containment, y.n AS n_contained
  FROM inter i JOIN sz y ON y.doc_id = i.doc_b
)
WHERE containment >= {CONTAINMENT_THRESHOLD} AND n_contained >= {CONTAINMENT_MIN_SHINGLES}
"""


@register("doc_containment_pairs", oracle=_CONTAINMENT_ORACLE, tags=("datapipe", "dedup", "r5"))
def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: |A∩B| / |A| ≥ {CONTAINMENT_THRESHOLD}
    flags document A as CONTAINED in B — the derivation/quotation metric
    Jaccard suppresses (a paragraph quoted inside a long article has tiny
    Jaccard but containment ≈ 1; Broder's resemblance-vs-containment
    distinction).  This is the provenance signal a curation pipeline uses
    to keep the superset document and attribute the subset, where symmetric
    dedup would keep both.  Minimum {CONTAINMENT_MIN_SHINGLES} shingles on
    the contained side — tiny documents trivially embed anywhere.

    Same scale shape as the exact-Jaccard ground truth (one shingle-keyed
    intersection join, sizes broadcast); the one intersection table serves
    BOTH directions, so asymmetry costs nothing extra.  The score is one
    exact division — bit-identical cross-engine, no rounding needed."""
    from .stage import staged_shingles

    sh = staged_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sx = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sy = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    both = inter.join(F.broadcast(sx), "doc_a").join(F.broadcast(sy), "doc_b")
    fwd = both.select(
        F.col("doc_a").alias("contained_doc"),
        F.col("doc_b").alias("container_doc"),
        (F.col("n_common").cast("double") / F.col("na")).alias("containment"),
        F.col("na").alias("n_contained"),
    )
    rev = both.select(
        F.col("doc_b").alias("contained_doc"),
        F.col("doc_a").alias("container_doc"),
        (F.col("n_common").cast("double") / F.col("nb")).alias("containment"),
        F.col("nb").alias("n_contained"),
    )
    return (
        fwd.unionByName(rev)
        .filter(
            (F.col("containment") >= CONTAINMENT_THRESHOLD)
            & (F.col("n_contained") >= CONTAINMENT_MIN_SHINGLES)
        )
        .select("contained_doc", "container_doc", "containment")
    )


# --- exact duplicate n-gram spans (substring-level dedup) --------------------

DUP_SPAN_N = 8  # tokens per span; Lee et al. use 50 BPE tokens — 8 words ≈ the same scale on word tokens

_DUP_SPAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+{DUP_SPAN_N - 1}], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - {DUP_SPAN_N - 2})) AS r(i)
), dup AS (
  SELECT gram FROM grams GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
), covered AS (
  SELECT DISTINCT g.doc_id, u.tok_idx
  FROM grams g JOIN dup d USING (gram), UNNEST(range(g.pos, g.pos + {DUP_SPAN_N})) AS u(tok_idx)
), agg AS (
  SELECT doc_id, COUNT(*) AS dup_tokens FROM covered GROUP BY 1
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / len(t.t) AS dup_frac
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


@register("duplicate_ngram_spans", oracle=_DUP_SPAN_ORACLE, tags=("datapipe", "dedup", "text", "r7"))
def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup: per document, how many token positions
    sit inside an N-gram (N=DUP_SPAN_N) that ALSO occurs verbatim in another document
    (the cross-document repeated-span statistic behind ExactSubstr dedup —
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" — whole-doc dedup misses boilerplate/quotation spans entirely).
    Within-document repetition is deliberately out of scope here; that is
    ``doc_repetition_score``'s axis (``datapipe/scrub.py``).  The span
    GEOMETRY (merged offsets) and the text transform that consumes it live
    in ``dup_substring_spans`` / ``dedup_cut_substrings`` below — this
    query is the triage statistic of that family.

    Pipeline (all JVM built-ins over the staged token frame):
    (1) slide an N-token window per doc → (doc, pos, gram) via one
    ``posexplode``; (2) one shuffle grouped on the gram finds grams seen in
    ≥2 distinct docs; (3) duplicated positions re-join and expand to the
    {n} covered token indices, deduped per doc so overlapping spans are
    union-counted (the interval-union done as index-set distinct — exact,
    and never materializes per-pair intervals); (4) left join back so
    clean documents report 0.

    100 TB: the gram groupBy is the one corpus-sized shuffle — production
    would key it on ``xxhash64(gram)`` (8-byte keys vs ~50-byte strings;
    collisions then verified against the text, same lossless-candidate
    discipline as the LSH tiers).  The ×N position expansion applies only
    to *duplicated* positions, a small corpus fraction.  The oracle mirrors
    the construction exactly: Spark ``sequence`` 1-based shingles ==
    DuckDB ``range`` end-exclusive slices (``functions/text.py``).
    """
    from .stage import staged_features

    return duplicate_span_stats(staged_features(spark, sf_dir), DUP_SPAN_N)


def duplicate_span_stats(feat: DataFrame, n: int) -> DataFrame:
    """Core of ``duplicate_ngram_spans`` over any (doc_id, toks) frame —
    factored so the overlapping-span union count is property-testable on
    generated tiny-vocabulary corpora (``tests/test_properties.py``), where
    shared runs collide far more densely than real text."""
    grams = feat.select(
        "doc_id", F.posexplode(shingles_col(F.col("toks"), n)).alias("pos", "gram")
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("tok_idx"),
        )
        .distinct()
    )
    agg = covered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dup_tokens"))
    base = feat.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias("dup_tokens"),
        # tokenization never yields an empty array on real text ('' is one
        # token), but the helper guards n_tokens == 0 anyway: ANSI mode
        # (Spark 4 default) turns the division into a runtime error
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).cast("double")
            / F.col("n_tokens"),
        ).alias("dup_frac"),
    )


# --- cross-source near-dup contamination matrix -------------------------------

_SOURCE_MATRIX_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs
FROM jpairs p
JOIN documents da ON p.doc_a = da.doc_id
JOIN documents db ON p.doc_b = db.doc_id
GROUP BY 1, 2
"""


@register("neardup_source_matrix", oracle=_SOURCE_MATRIX_ORACLE, tags=("datapipe", "dedup", "r7"))
def q_neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where do near-duplicates come FROM: verified near-dup pairs rolled up
    by unordered source pair — the mirror-site / cross-source syndication
    report that decides which source to drop when two scrape the same
    content.  Diagonal rows (source_a == source_b) measure intra-source
    redundancy.

    Consumes the STAGED pair set (detection ran once — same discipline as
    the graph consumers in ``datapipe.cluster``) and joins the (doc_id,
    source) projection twice.  The pair set is the OUTPUT-bounded side
    (near-dup pairs, not the corpus), so the joins are left hint-free:
    size-based planning + AQE broadcast the staged pair parquet (whose file
    stats Spark reads) while the corpus-sized projection streams, and the
    same code degrades to a doc_id shuffle join if pairs ever outgrow the
    broadcast limit — a forced ``F.broadcast`` would instead hard-fail at
    8 GB, and forcing it on the corpus projection (the one side that GROWS
    with corpus size) would be exactly backwards.  Sources are normalized
    to unordered (LEAST/GREATEST) so the matrix is upper-triangular
    regardless of doc-id assignment."""
    from .stage import staged_jaccard_pairs

    pairs = staged_jaccard_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- exact-substring dedup (Lee et al. 2021) ----------------------------------

#: duplicate-window length in tokens.  Lee et al. ("Deduplicating Training
#: Data Makes Language Models Better", ACL 2022) use 50 BPE tokens on
#: web-scale corpora; the synthetic docs run ~40-90 whitespace tokens, so 20
#: keeps the operator meaningfully sub-document at this fixture scale.
EXSUB_L = 20

#: shared CTE chain: tokenize → L-window hashes → duplicated positions →
#: gaps-and-islands merge → per-doc maximal spans (see q_dup_substring_spans)
_EXSUB_CTES = f"""t AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), w AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         md5(array_to_string(list_slice(toks, i, i + {EXSUB_L} - 1), ' ')) AS h
  FROM t, UNNEST(range(1, len(toks) - {EXSUB_L} + 2)) AS u(i)
), flagged AS (
  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS cnt FROM w
), pos AS (
  SELECT doc_id, pos FROM flagged WHERE cnt >= 2
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {EXSUB_L}
              THEN 1 ELSE 0 END AS new_island
  FROM pos
), g AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
), spans AS (
  SELECT doc_id,
         CAST(MIN(pos) AS INTEGER) AS span_start,
         CAST(MAX(pos) + {EXSUB_L} - 1 AS INTEGER) AS span_end,
         CAST(MAX(pos) + {EXSUB_L} - MIN(pos) AS INTEGER) AS span_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_dup_windows
  FROM g GROUP BY doc_id, island
)"""

_EXSUB_ORACLE = f"""
WITH {_EXSUB_CTES}
SELECT doc_id, span_start, span_end, span_tokens, n_dup_windows FROM spans
"""


@register("dup_substring_spans", oracle=_EXSUB_ORACLE, tags=("datapipe", "dedup", "r10"))
def q_dup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr pass):
    every {EXSUB_L}-token window whose exact text occurs ≥2 times ANYWHERE
    in the corpus is a duplicate window; per document, overlapping/adjacent
    duplicate windows merge into maximal spans (start/end token index,
    1-based) — the byte ranges that pass cuts from the training text,
    complementing document-level dedup (repeated boilerplate, licenses,
    quotations survive document-level near-dup because the HOST documents
    differ).

    The reference paper builds a corpus-wide suffix array; the Spark-native
    equivalent is window hashing: fixed-length windows lose "maximal match"
    granularity below L but find every duplicate of length ≥ L (any such
    match contains a duplicated L-window at each offset), and the span merge
    reconstructs the maximal duplicated REGION per document exactly.

    Family division of labour: ``duplicate_ngram_spans`` (r7) reports the
    per-document coverage STATISTIC (how many positions sit in a span that
    another document also contains — cross-doc only, the triage number);
    this query emits the span GEOMETRY (merged start/end offsets, global
    count ≥ 2 so within-doc repeats qualify too) that the cut transform
    consumes; ``dedup_cut_substrings`` applies the cut.  Statistic → spans
    → transform, each oracle-checked.

    Plan: one stateless window explode off the staged token arrays (fan-out
    ×~n_toks, same shape as the shingle family), one hash-keyed window count
    (duplicate test — no join-back: the count rides the same exchange), one
    doc-keyed window + aggregate for the island merge.  3 shuffles total;
    window hashes are md5 of the joined text, so the DuckDB oracle replays
    the identical computation.  At 100 TB the h-keyed exchange moves
    (doc_id, pos, 32-byte hash) rows — never the text — and uniform md5
    keys can't skew."""
    from .stage import staged_features

    return duplicate_substring_spans(staged_features(spark, sf_dir))


def duplicate_substring_spans(feat: DataFrame, L: int = EXSUB_L) -> DataFrame:
    """Merged duplicate-span frame (doc_id, span_start, span_end,
    span_tokens, n_dup_windows) — the detection stage shared by the span
    report and the span-cut transform (see ``q_dup_substring_spans`` for
    semantics and scale analysis)."""
    toks = tokens_of(feat)
    idx = F.when(
        F.size(toks) >= L, F.sequence(F.lit(1), F.size(toks) - L + 1)
    ).otherwise(F.array().cast("array<int>"))
    windows = feat.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice(toks, i, L))).alias("h"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    dup_pos = (
        windows.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    new_island = F.when(
        F.lag("pos").over(w_doc).isNull() | (F.col("pos") > F.lag("pos").over(w_doc) + L), 1
    ).otherwise(0)
    islands = dup_pos.withColumn("new_island", new_island).withColumn(
        "island",
        F.sum("new_island").over(w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + L - 1).cast("int").alias("span_end"),
        (F.max("pos") + L - F.min("pos")).cast("int").alias("span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_dup_windows"),
    ).drop("island")


_EXSUB_CUT_ORACLE = f"""
WITH {_EXSUB_CTES}, pt AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos, toks[i] AS tok
  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
), kept AS (
  SELECT pt.doc_id, pt.pos, pt.tok FROM pt
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = pt.doc_id
                      AND pt.pos BETWEEN s.span_start AND s.span_end)
)
SELECT t.doc_id,
       COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text,
       CAST(len(any_value(t.toks)) - COUNT(k.tok) AS BIGINT) AS n_removed_tokens
FROM t LEFT JOIN kept k USING (doc_id)
GROUP BY t.doc_id
"""


@register("dedup_cut_substrings", oracle=_EXSUB_CUT_ORACLE, tags=("datapipe", "dedup", "r10"))
def q_dedup_cut_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM half of exact-substring dedup (Lee et al. 2021 cut the
    duplicated bytes from the training text rather than dropping documents):
    every document is emitted with its merged duplicate spans removed —
    (doc_id, clean_text, n_removed_tokens), one row per input document,
    spanless documents passing through verbatim (normalized tokenization).

    Plan: the span frame (3 shuffles, see ``duplicate_substring_spans``)
    collapses to ONE row per spanned document (collect_list of ≤n_spans
    structs — bounded by doc length, never corpus), left-joined back to the
    corpus on doc_id; the cut itself is a per-row JVM lambda over the token
    array (filter on span containment + concat_ws), so no shuffle carries
    text except the final doc-keyed join, and documents without spans carry
    a NULL span array through the same expression.  The oracle replays the
    cut relationally (position anti-join + ordered string_agg) — agreement
    pins both the span geometry and the reassembly order."""
    from .stage import staged_features

    feat = staged_features(spark, sf_dir)
    spans = duplicate_substring_spans(feat)
    span_arrs = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    toks = tokens_of(feat)
    src = feat.select("doc_id", toks.alias("toks")).join(span_arrs, "doc_id", "left")
    pos_toks = F.transform(
        F.sequence(F.lit(1), F.size("toks")),
        lambda i: F.struct(i.alias("pos"), F.element_at("toks", i).alias("tok")),
    )
    safe_spans = F.coalesce(F.col("spans"), F.array().cast("array<struct<span_start:int,span_end:int>>"))
    kept = F.filter(
        pos_toks,
        lambda pt: ~F.exists(
            safe_spans,
            lambda s: (pt["pos"] >= s["span_start"]) & (pt["pos"] <= s["span_end"]),
        ),
    )
    return src.select(
        "doc_id",
        F.concat_ws(" ", F.transform(kept, lambda pt: pt["tok"])).alias("clean_text"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed_tokens"),
    )


# --- suffix-array tier: dyadic doubling duplicates (Lee et al. 2021 SA pass) ---

#: base window length (tokens) and dyadic level count: levels j = 0..4 give
#: window lengths 4, 8, 16, 32, 64 — spanning "phrase" to "most of a
#: document" at this fixture's 40-90-token documents.
SA_BASE = 4
SA_LEVELS = 5


def _sa_level_ctes() -> str:
    """Unrolled prefix-doubling CTE chain for the DuckDB oracle: level 0
    hashes base-length windows from the raw tokens; level j hashes the
    CONCAT of two level-(j-1) hashes half a window apart — the identical
    recursion the Spark side computes in-row, so the md5 chains agree
    byte-for-byte."""
    parts = [
        f"""t AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), l0 AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         md5(array_to_string(list_slice(toks, i, i + {SA_BASE} - 1), ' ')) AS h
  FROM t, UNNEST(range(1, len(toks) - {SA_BASE} + 2)) AS u(i)
)"""
    ]
    for j in range(1, SA_LEVELS):
        step = SA_BASE * (2 ** (j - 1))
        parts.append(
            f""", l{j} AS (
  SELECT a.doc_id, a.pos, md5(a.h || b.h) AS h
  FROM l{j - 1} a JOIN l{j - 1} b ON a.doc_id = b.doc_id AND b.pos = a.pos + {step}
)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT {j} AS lvl, doc_id, pos, h FROM l{j}" for j in range(SA_LEVELS)
    )
    parts.append(f", lv AS (\n  {union}\n)")
    return "".join(parts)


_SA_PROFILE_ORACLE = f"""
WITH {_sa_level_ctes()},
dup AS (SELECT lvl, h, COUNT(*) AS cnt FROM lv GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT CAST({SA_BASE} * (1 << lvl) AS BIGINT) AS win_len,
       CAST(SUM(cnt) AS BIGINT) AS n_dup_positions,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_dup_texts,
       CAST(MAX(cnt) AS BIGINT) AS max_occurrences
FROM dup GROUP BY lvl
"""


def _dyadic_hash_frame(feat: DataFrame, base: int = SA_BASE, levels: int = SA_LEVELS) -> DataFrame:
    """(doc_id, lvl, pos, h) for every dyadic window: the prefix-doubling
    construction of a suffix array, restricted to dyadic lengths and kept
    IN-ROW.  Classic distributed SA construction (Manber–Myers prefix
    doubling) needs a corpus-wide shifted self-join + global re-rank per
    round because suffixes extend past record boundaries; training-corpus
    duplicate detection doesn't — a match never crosses a document boundary
    (Lee et al. 2021 dedup per-document streams) — so every doubling step is
    a per-row array transform over the previous level's hashes (two 32-char
    concats + one md5 per position), and the ONLY corpus-wide operations are
    the hash-keyed aggregations downstream.  Content-keyed: the level-j hash
    at position i depends only on the token content of [i, i + base·2^j),
    so identical windows in DIFFERENT documents collide — corpus-wide
    duplicate detection without any cross-document construction."""
    toks = tokens_of(feat)
    df = feat.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    empty = F.array().cast("array<string>")
    h0 = F.when(
        n - base + 1 >= 1,
        F.transform(
            F.sequence(F.lit(1), n - base + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, base))),
        ),
    ).otherwise(empty)
    df = df.withColumn("h0", h0)

    # closure factories, not default-arg lambdas: PySpark reads the lambda's
    # full parameter count as the higher-order function's arity
    def combine(prev, step):
        return lambda i: F.md5(
            F.concat(F.element_at(prev, i), F.element_at(prev, i + step))
        )

    def tag(j):
        return lambda x, i: F.struct(
            F.lit(j).alias("lvl"), (i + 1).cast("int").alias("pos"), x.alias("h")
        )

    for j in range(1, levels):
        step = base * (2 ** (j - 1))
        wl = base * (2 ** j)
        hj = F.when(
            n - wl + 1 >= 1,
            F.transform(F.sequence(F.lit(1), n - wl + 1), combine(F.col(f"h{j - 1}"), step)),
        ).otherwise(empty)
        df = df.withColumn(f"h{j}", hj)
    stacked = F.flatten(
        F.array(*[F.transform(F.col(f"h{j}"), tag(j)) for j in range(levels)])
    )
    return df.select("doc_id", F.explode(stacked).alias("s")).select(
        "doc_id",
        F.col("s.lvl").alias("lvl"),
        F.col("s.pos").alias("pos"),
        F.col("s.h").alias("h"),
    )


@register(
    "sa_duplicate_length_profile",
    oracle=_SA_PROFILE_ORACLE,
    tags=("datapipe", "dedup", "r12"),
)
def q_sa_duplicate_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-mass profile by dyadic match length — the suffix-array
    tier's survey statistic (round-6 verdict item 5): for each window
    length {{4, 8, …, {SA_BASE} · 2^{SA_LEVELS - 1}}}, how many positions
    sit in a window whose exact text occurs ≥2 times anywhere in the
    corpus, how many distinct duplicated texts exist, and the hottest
    text's occurrence count.  Reading the profile top-down gives the
    longest duplicated substring's dyadic bracket and how duplicate mass
    decays with length — the statistic that tunes ``EXSUB_L`` for the
    fixed-window exact-substring pass (``dup_substring_spans``).

    Scale shape: the doubling construction is in-row (see
    ``_dyadic_hash_frame`` — no corpus-wide joins, no all-pairs, unlike a
    classic distributed SA build); the plan is one staged-feature scan →
    explode (×~n_toks·levels) → ONE hash-keyed aggregation → a
    |levels|-row rollup.  The hash exchange moves (lvl, 32-byte hash)
    rows — never text — and md5 keys cannot skew."""
    from .stage import staged_features

    lv = _dyadic_hash_frame(staged_features(spark, sf_dir))
    dup = (
        lv.groupBy("lvl", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
    )
    return dup.groupBy("lvl").agg(
        F.sum("cnt").cast("long").alias("n_dup_positions"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_dup_texts"),
        F.max("cnt").cast("long").alias("max_occurrences"),
    ).select(
        F.expr(f"CAST({SA_BASE} * CAST(pow(2, lvl) AS BIGINT) AS BIGINT)").alias("win_len"),
        "n_dup_positions",
        "n_distinct_dup_texts",
        "max_occurrences",
    )


_SA_LONGEST_ORACLE = f"""
WITH {_sa_level_ctes()},
dup AS (SELECT lvl, h, COUNT(*) AS cnt FROM lv GROUP BY 1, 2 HAVING COUNT(*) >= 2),
top AS (SELECT MAX(lvl) AS ml FROM dup),
occ AS (SELECT v.* FROM lv v JOIN top ON v.lvl = top.ml
        WHERE v.h IN (SELECT h FROM dup WHERE lvl = (SELECT ml FROM top))),
dh AS (SELECT h, COUNT(*) AS n_occurrences FROM occ GROUP BY h),
ex AS (
  SELECT h, doc_id, pos FROM (
    SELECT o.*, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM occ o
  ) WHERE rn = 1
)
SELECT array_to_string(
         list_slice(t.toks, e.pos, e.pos + {SA_BASE} * (1 << (SELECT ml FROM top)) - 1),
         ' ') AS dup_text,
       CAST({SA_BASE} * (1 << (SELECT ml FROM top)) AS BIGINT) AS win_len,
       CAST(d.n_occurrences AS BIGINT) AS n_occurrences,
       e.doc_id AS example_doc_id,
       CAST(e.pos AS BIGINT) AS example_pos
FROM dh d JOIN ex e USING (h) JOIN t ON t.doc_id = e.doc_id
"""


@register(
    "sa_longest_duplicates",
    oracle=_SA_LONGEST_ORACLE,
    tags=("datapipe", "dedup", "r12"),
)
def q_sa_longest_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LONGEST duplicated substrings in the corpus — the suffix-array
    headline answer (Lee et al. 2021 report exactly this table for C4/
    RealNews), extracted at the deepest dyadic level with any duplicate:
    one row per distinct duplicated text — its length bracket, occurrence
    count, and lexicographically-first example location, with the text
    reconstructed from that example's token slice.

    Scale shape: the level construction is in-row (``_dyadic_hash_frame``);
    one hash-keyed aggregation computes counts AND the first-occurrence
    argmin (struct-min — no second pass); the deepest level is a broadcast
    1-row aggregate; the text join-back touches only the example documents
    (output-bounded).  No all-pairs, no global sort.  A maximal duplicate
    of true length ℓ reads out at level ⌊log2(ℓ/{SA_BASE})⌋ — the dyadic
    bracket, not ℓ itself; the profile query quantifies the mass, this one
    names the offenders."""
    from .stage import staged_features

    feat = staged_features(spark, sf_dir)
    lv = _dyadic_hash_frame(feat)
    dup = (
        lv.groupBy("lvl", "h")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )
    top = dup.agg(F.max("lvl").alias("ml"))
    deepest = dup.join(F.broadcast(top), dup["lvl"] == top["ml"]).select(
        "h",
        "n_occurrences",
        F.col("first.doc_id").alias("example_doc_id"),
        F.col("first.pos").alias("example_pos"),
        F.expr(f"CAST({SA_BASE} * CAST(pow(2, lvl) AS BIGINT) AS BIGINT)").alias("win_len"),
    )
    toks_tbl = feat.select("doc_id", tokens_of(feat).alias("toks"))
    return (
        deepest.join(
            toks_tbl.withColumnRenamed("doc_id", "example_doc_id"), "example_doc_id"
        )
        .select(
            F.concat_ws(
                " ", F.slice("toks", F.col("example_pos"), F.col("win_len").cast("int"))
            ).alias("dup_text"),
            "win_len",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            "example_doc_id",
            F.col("example_pos").cast("long").alias("example_pos"),
        )
    )


# --- Bloom-filter contamination screen (membership sketch as data) -------------

BLOOM_M = 1024  # bits
BLOOM_K = 3  # hash functions
BLOOM_EVAL_MOD = 5  # doc_id % 5 == 0 plays the eval/holdout set

_BLOOM_HASH = (
    "CAST(('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || fp), 1, 8)) AS BIGINT) % "
    + str(BLOOM_M)
)

_BLOOM_ORACLE = f"""
WITH f AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), train AS (SELECT * FROM f WHERE doc_id % {BLOOM_EVAL_MOD} <> 0),
eval AS (SELECT * FROM f WHERE doc_id % {BLOOM_EVAL_MOD} = 0),
train_pos AS (
  SELECT DISTINCT source, {_BLOOM_HASH.format(i='i')} AS pos
  FROM train, UNNEST(range({BLOOM_K})) AS u(i)
), eval_pos AS (
  SELECT doc_id, fp, CAST(i AS INTEGER) AS i, {_BLOOM_HASH.format(i='i')} AS pos
  FROM eval, UNNEST(range({BLOOM_K})) AS u(i)
), flagged AS (
  SELECT e.doc_id, t.source
  FROM eval_pos e JOIN train_pos t USING (pos)
  GROUP BY 1, 2 HAVING COUNT(DISTINCT e.i) = {BLOOM_K}
), truth AS (
  SELECT DISTINCT e.doc_id, t.source FROM eval e JOIN train t ON e.fp = t.fp
), n_eval AS (SELECT COUNT(*) AS n FROM eval)
SELECT s.source,
       CAST((SELECT n FROM n_eval) AS BIGINT) AS n_eval_docs,
       CAST(COUNT(DISTINCT fl.doc_id) AS BIGINT) AS n_flagged,
       CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_true_overlap,
       CAST(COUNT(DISTINCT fl.doc_id) - COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_false_pos
FROM (SELECT DISTINCT source FROM train) s
LEFT JOIN flagged fl ON fl.source = s.source
LEFT JOIN truth tr ON tr.source = s.source
GROUP BY s.source
"""


@register(
    "bloom_contamination_screen",
    oracle=_BLOOM_ORACLE,
    tags=("datapipe", "dedup", "sketch", "r10"),
)
def q_bloom_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership screening (Bloom 1970), built as DATA like
    the engine's HLL and count-min tiers: each training SOURCE keeps a
    {BLOOM_M}-bit filter of its document fingerprints ({BLOOM_K} md5-derived
    hashes); every holdout/eval document tests its {BLOOM_K} positions
    against each source's filter and is flagged where all are set.  Reported
    per source against the exact fingerprint join: flagged, true overlaps,
    and false positives — the sketch's measured FP cost at this geometry.

    This is the decontamination SCREEN a training pipeline runs before the
    expensive n-gram pass (``contamination_overlap``): the filter is
    |sources|×{BLOOM_M} bits of state — broadcastable at any corpus size —
    so the screen never joins eval against the corpus itself; only
    screen-positives proceed to exact verification.  Completes the sketch
    tier: HLL (cardinality), count-min (frequency), Bloom (membership).

    Plan: the per-source position sets aggregate to ≤ |sources|·{BLOOM_M}
    rows → broadcast hash join against the eval positions (k rows per eval
    doc); the exact-truth twin is a fingerprint-keyed join for the error
    columns.  Every hash is md5-derived, so the DuckDB oracle replays the
    filter bit-for-bit."""
    from .stage import staged_features

    feat = staged_features(spark, sf_dir).select("doc_id", "source", "fingerprint")
    train = feat.filter(F.col("doc_id") % BLOOM_EVAL_MOD != 0)
    ev = feat.filter(F.col("doc_id") % BLOOM_EVAL_MOD == 0)

    def positions(df: DataFrame) -> DataFrame:
        i = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i")
        pos = (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("i").cast("string"), F.col("fingerprint"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % BLOOM_M
        )
        return df.select("doc_id", "source", "fingerprint", i).withColumn("pos", pos)

    train_pos = positions(train).select("source", "pos").distinct()
    eval_pos = positions(ev).select("doc_id", "i", "pos")
    flagged = (
        eval_pos.join(
            F.broadcast(train_pos.withColumnRenamed("source", "t_source")),
            "pos",
        )
        .groupBy("doc_id", "t_source")
        .agg(F.countDistinct("i").alias("k_hit"))
        .filter(F.col("k_hit") == BLOOM_K)
        .select("doc_id", F.col("t_source").alias("source"))
    )
    truth = (
        ev.select("doc_id", "fingerprint")
        .join(train.select("fingerprint", F.col("source").alias("t_source")), "fingerprint")
        .select("doc_id", F.col("t_source").alias("source"))
        .distinct()
    )
    # 1-row aggregate attached via broadcast (NOT an eager .count(): plan
    # construction must launch zero jobs — the bloom-filter/registry-wide
    # discipline pinned in test_plans.py)
    n_eval = ev.agg(F.count(F.lit(1)).cast("long").alias("n_eval_docs"))
    sources = train.select("source").distinct()
    fl = flagged.groupBy("source").agg(F.countDistinct("doc_id").alias("n_flagged"))
    tr = truth.groupBy("source").agg(F.countDistinct("doc_id").alias("n_true_overlap"))
    return (
        sources.join(fl, "source", "left")
        .join(tr, "source", "left")
        .crossJoin(F.broadcast(n_eval))
        .select(
            "source",
            "n_eval_docs",
            F.coalesce(F.col("n_flagged"), F.lit(0)).cast("long").alias("n_flagged"),
            F.coalesce(F.col("n_true_overlap"), F.lit(0)).cast("long").alias("n_true_overlap"),
            (
                F.coalesce(F.col("n_flagged"), F.lit(0))
                - F.coalesce(F.col("n_true_overlap"), F.lit(0))
            ).cast("long").alias("n_false_pos"),
        )
    )
