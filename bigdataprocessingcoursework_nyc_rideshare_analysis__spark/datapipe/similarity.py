"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Tiers (all sharing the exact re-rank tail ``exact_rank_candidates``):
- ``ann_cosine_topk``: brute-force cosine top-k — broadcast the (small) query
  set against the full corpus, rank per query.  The correctness baseline;
  cost ∝ |queries| × |corpus|.  Quantized integer math (``functions.vector``)
  keeps Spark and the DuckDB oracle bit-identical.
- ``ann_lsh_topk``: random-hyperplane LSH — multi-table bit signatures,
  bucket join, exact rank within candidates.  Corpus-linear.
- ``ann_ivf_topk`` / ``ann_pq_topk`` / ``ann_ivfpq_topk``: inverted-file
  pruning (compute), product-quantization codes + ADC (memory), and their
  composition — the trillion-vector index shapes, trained on absolutely
  capped samples so driver state is constant at any corpus size.  They
  share one prelude (``_trained_probe``: one corpus count, one
  ``training_sample`` that both trainers read), one PQ arithmetic
  (``_pq_kernels``) and one ADC shortlist scan (``adc_shortlist``);
  IVF-PQ is the PQ probe with the IVF trainer plugged in.
- ``ann_recall_report``: the index-quality monitor; reads the STAGED exact
  truth and STAGED per-method panels (``datapipe.stage``) the way a
  production monitor consumes nightly index builds.  ``ANN_METHODS`` at the
  bottom of this module is the single manifest every consumer derives from.

Approximate tiers are rows-only at the driver (no SQL form); pytest floors
each tier's recall against the brute-force truth and sf0.001 golden rows pin
exact outputs.  Seeds are fixed; signature/encode kernels are one NumPy GEMM
per Arrow batch (see ``lsh_buckets`` for why that beats the Catalyst
higher-order form).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.vector import cosine_q, quantize_vec
from ..registry import register
from ..sources import load_table

N_QUERIES = 10  # vec_id < 10 form the query set
TOP_K = 5
LSH_TABLES = 8  # independent hash tables (OR-amplification for recall)
LSH_BITS = 6  # bits per table: 64 buckets/table → ~corpus/64 candidates each
LSH_SEED = 42


_BRUTE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS cv
  FROM embeddings
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])) AS DOUBLE)))
           AS cos_sim
  FROM q, c
  WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × corpus, window-rank.

    Per-partition the cross join is a tight JVM loop over Tungsten rows; the
    final rank shuffles only |queries| × |corpus-partition-topk| rows under
    AQE.  Deterministic tiebreak on neighbor id.
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), quantize_vec(vec_col).alias("qv"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), quantize_vec(vec_col).alias("cv"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_q(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


@register("ann_cosine_topk", oracle=_BRUTE_ORACLE, tags=("datapipe", "similarity"))
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return cosine_topk(emb, queries, TOP_K)


def lsh_buckets(
    df: DataFrame, vec_col: str, tables: int, bits: int, seed: int, dim: int = 64, id_col: str = "vec_id"
) -> DataFrame:
    """(id, table, bucket) rows: one signature per hash table.  Multiple
    independent tables OR-amplify recall — a true neighbor is a candidate if
    it collides in *any* table.

    All ``tables × bits`` hyperplane dot products for an Arrow batch are ONE
    NumPy GEMM ``E @ P.T`` followed by a sign test and a bit-packing matmul.
    This replaced a pure-Catalyst nested higher-order-function formulation
    (``transform`` over a plane literal with ``aggregate`` dot products):
    higher-order lambdas are interpreted per element, so 48 planes × 64 dims
    cost ~3k interpreted steps *per row* — measured 4× slower than the Arrow
    round-trip + GEMM on the same data."""
    planes = np.random.RandomState(seed).randn(tables * bits, dim)
    powers = 1 << np.arange(bits, dtype=np.int64)
    table_ids = np.arange(tables, dtype=np.int64)

    # closure, not module-level: cloudpickle pickles it by value so Spark
    # Python workers don't need this package importable
    def bucketize(batches):
        import pandas as pd

        for pdf in batches:
            emb = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            signs = (emb @ planes.T) > 0  # (n, tables*bits)
            buckets = signs.reshape(len(pdf), tables, bits) @ powers  # (n, tables)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), tables),
                    "table": np.tile(table_ids, len(pdf)),
                    "bucket": buckets.ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        bucketize, schema=f"{id_col} long, table long, bucket long"
    )


def exact_rank_candidates(emb: DataFrame, candidates: DataFrame, k: int) -> DataFrame:
    """Exact cosine scoring + per-query rank over (query_id, neighbor_id)
    candidate pairs — the shared verify tail of every ANN index."""
    qv = emb.select(F.col("vec_id").alias("query_id"), quantize_vec("embedding").alias("qv"))
    cv = emb.select(F.col("vec_id").alias("neighbor_id"), quantize_vec("embedding").alias("cv"))
    scored = (
        candidates.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cosine_q(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def lsh_topk_detail(
    spark: SparkSession,
    sf_dir: str,
    tables: int = LSH_TABLES,
    bits: int = LSH_BITS,
) -> DataFrame:
    """Approximate top-k: candidates = union over hash tables of the query's
    bucket, then exact cosine rank over candidates only.  Trades recall
    (pytest measures it vs brute force) for corpus-linear cost.  The full
    (query_id, neighbor_id, cos_sim, rank) panel — the index-build output
    ``staged_ann_method_topk`` persists; the registered ``ann_lsh_topk``
    wraps this probe in the recall-bound summary the driver's hash gate
    can check."""
    emb = load_table(spark, sf_dir, "embeddings")
    # bucket table feeds both the query and corpus sides; the projection is
    # cheap enough to recompute per side (a persist() would leak a cached
    # copy per invocation)
    bucketed = lsh_buckets(emb, "embedding", tables, bits, LSH_SEED)
    queries = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("table").alias("qtable"),
        F.col("bucket").alias("qbucket"),
    )
    candidates = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("table") == F.col("qtable")) & (F.col("bucket") == F.col("qbucket")),
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    return exact_rank_candidates(emb, candidates, TOP_K)


# --- trained tiers: IVF, PQ and IVF-PQ ------------------------------------------

IVF_LISTS = 16  # centroids
IVF_NPROBE = 4  # centroid lists searched per query
IVF_SEED = 7
IVF_KMEANS_ITERS = 8
IVF_TRAIN_CAP = 262_144  # absolute bound on vectors collected for training

PQ_SUBSPACES = 8  # dim 64 → 8 subvectors of 8 dims each
PQ_CODEBOOK = 64  # centroids per subspace: 6-bit codes (near-uniform synthetic
#  embeddings carry little cluster structure, so ADC fidelity needs the bits)
PQ_SEED = 11
PQ_KMEANS_ITERS = 8
PQ_SHORTLIST = 8  # ADC shortlist size = PQ_SHORTLIST × TOP_K per query


def training_sample(
    emb: DataFrame, n: int, cap: int = IVF_TRAIN_CAP, vec_col: str = "embedding", id_col: str = "vec_id"
) -> "np.ndarray":
    """The unit-norm training sample of an ``n``-row corpus, the one both
    trainers read.  Training quality needs O(k·dim) data, not O(corpus), so
    the sample is *absolutely* bounded: a strided id filter picks ~``cap``
    rows whatever the corpus size, with ``limit(cap)`` as the hard ceiling,
    and driver memory stays constant at 100 TB (cap × dim floats ≈ 128 MB
    at dim 64).  Only assignment and encoding touch the full corpus, and
    those stay distributed.  Unit rows make PQ's L2 geometry rank like the
    cosine of every other tier (‖a−b‖² = 2−2·cos)."""
    stride = max(1, -(-n // cap))  # ceil(n / cap): every stride-th id
    pdf = emb.filter((F.col(id_col) % stride) == 0).select(vec_col).limit(cap).toPandas()
    # normalized here, not by ``_unit_rows``: IVF's stage key must not reach the PQ arithmetic
    sample = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    return sample / np.linalg.norm(sample, axis=1, keepdims=True)


def _trained_probe(spark: SparkSession, sf_dir: str, candidates, **pinned) -> DataFrame:
    """Prelude and tail of the three trained tiers.  The corpus is counted
    once: the count sizes the training stride and ``scaled_ann_knobs``
    (knobs passed non-None stay pinned).  The sample is collected once.
    The tier's ``candidates(emb, knobs, sample)`` returns (query_id,
    neighbor_id) pairs, and the shared exact re-rank scores them.  A
    zero-row corpus has nothing to train on and nothing to find, so its
    panel is the typed empty one."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # parquet count: metadata-cheap, no wide columns read
    if not n:
        pairs = emb.select(F.col("vec_id").alias("query_id"), F.col("vec_id").alias("neighbor_id"))
    else:
        knobs = scaled_ann_knobs(n) | {k: v for k, v in pinned.items() if v is not None}
        pairs = candidates(emb, knobs, training_sample(emb, n))
    return exact_rank_candidates(emb, pairs, TOP_K)


def _group_means_into(rows: "np.ndarray", assign: "np.ndarray", k: int, out: "np.ndarray") -> None:
    """Per-cluster means via ONE stable argsort instead of k boolean-mask
    scans — the k-means update was O(k·n) mask passes per iteration, the
    driver-side hot spot the round-9 sf10 ANN curve caught (codebook
    training 38 s on a 200k-row sample; ~6 s after this).  BIT-IDENTICAL
    to the mask form: a stable sort keeps each cluster's member rows in
    original order, so ``members`` is the same array the boolean mask
    produced and ``np.mean`` (pairwise summation) sees identical input.
    Empty clusters keep their previous centroid, as before."""
    order = np.argsort(assign, kind="stable")
    bounds = np.searchsorted(assign[order], np.arange(k + 1))
    for c in range(k):
        s, e = bounds[c], bounds[c + 1]
        if e > s:
            out[c] = rows[order[s:e]].mean(axis=0)


def train_ivf_centroids(
    sample: "np.ndarray", k: int = IVF_LISTS, iters: int = IVF_KMEANS_ITERS, seed: int = IVF_SEED
) -> "np.ndarray":
    """Spherical k-means on the ``training_sample``, driver-side.  Returns
    unit-norm centroids (k × dim); the sample is only read."""
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(sample @ centroids.T, axis=1)
        _group_means_into(sample, assign, k, centroids)
        centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    return centroids


def ivf_assign(
    df: DataFrame, centroids: "np.ndarray", nprobe: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, list_id) rows: each vector's ``nprobe`` nearest centroid lists,
    via one GEMM per Arrow batch (same shape as ``lsh_buckets``)."""

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            emb = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = emb @ centroids.T  # (n, k); norms don't change argmax order per row
            top = np.argsort(-sims, axis=1)[:, :nprobe]  # (n, nprobe)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), nprobe),
                    "list_id": top.ravel().astype(np.int64),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(assign, schema=f"{id_col} long, list_id long")


def ivf_topk_detail(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted into their nearest
    centroid's list; each query probes its ``nprobe`` nearest lists and
    exact-ranks only those candidates.  ``nprobe=None`` (the registered
    path) resolves via ``scaled_ann_knobs`` on the corpus count — equal to
    ``IVF_NPROBE`` at calibration scale (≤ {ANN_KNOB_BASE_N} vectors, so
    every golden and driver hash is unchanged) and growing with the corpus
    so the driver-checked code path is the one that survives 100×.

    The 100 TB shape: training touches a sample, the inverted lists are a
    corpus-linear shuffle keyed by list_id, and each query's cost is
    |corpus|·nprobe/k instead of |corpus|.  Full (query_id, neighbor_id,
    cos_sim, rank) panel; the registered ``ann_ivf_topk`` wraps it in the
    recall-bound summary."""

    def candidates(emb: DataFrame, knobs: dict, sample: "np.ndarray") -> DataFrame:
        centroids = train_ivf_centroids(sample)
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        query_lists = ivf_assign(queries, centroids, nprobe=knobs["nprobe"]).select(
            F.col("vec_id").alias("query_id"), "list_id"
        )
        return (
            ivf_assign(emb, centroids, nprobe=1)
            .join(F.broadcast(query_lists), "list_id")
            .filter(F.col("query_id") != F.col("vec_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .distinct()
        )

    return _trained_probe(spark, sf_dir, candidates, nprobe=nprobe)


def _pq_kernels():
    """The PQ arithmetic, built as ``<locals>`` functions because it runs
    inside Spark Python workers as well as on the driver: cloudpickle ships
    ``<locals>`` functions by value, while a module-level ``def`` goes by
    reference and would need this package importable on the workers (the
    rule ``multimodal._build_image_codec`` documents).  Returns:

    - ``unit_rows(vectors)``: a column of vectors as unit-norm float64 rows;
    - ``subspace_sqdist(x, books)``: per subspace j, the (n, ksub) squared
      distances ‖x_j − books[j, c]‖² of rows x to codebook j, computed
      lazily, so a trainer may update ``books[j]`` once it has read them;
    - ``pq_codes(x, books)``: the (n, m) int32 nearest-entry codes of x."""

    def unit_rows(vectors) -> "np.ndarray":
        x = np.stack(vectors.to_numpy()).astype(np.float64)
        return x / np.linalg.norm(x, axis=1, keepdims=True)

    def subspace_sqdist(x: "np.ndarray", books: "np.ndarray"):
        dsub = books.shape[2]
        for j, cent in enumerate(books):
            sub = x[:, j * dsub : (j + 1) * dsub]
            yield (sub * sub).sum(1, keepdims=True) - 2 * sub @ cent.T + (cent * cent).sum(1)

    def pq_codes(x: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
        return np.stack([np.argmin(d, axis=1) for d in subspace_sqdist(x, books)], axis=1).astype(np.int32)

    return unit_rows, subspace_sqdist, pq_codes


_unit_rows, _subspace_sqdist, _pq_codes = _pq_kernels()


def train_pq_codebooks(
    sample: "np.ndarray",
    m: int = PQ_SUBSPACES,
    ksub: int = PQ_CODEBOOK,
    iters: int = PQ_KMEANS_ITERS,
    seed: int = PQ_SEED,
) -> "np.ndarray":
    """Per-subspace k-means codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search") trained driver-side on the
    ``training_sample`` — O(ksub·dsub) data per subspace, never O(corpus).
    Returns (m, ksub, dsub) float64; the sample is only read."""
    dsub = sample.shape[1] // m
    subs = [sample[:, j * dsub : (j + 1) * dsub] for j in range(m)]
    rng = np.random.RandomState(seed)
    books = np.stack([sub[rng.choice(len(sub), size=ksub, replace=False)] for sub in subs])
    for _ in range(iters):  # the subspaces train independently of each other
        for sub, d, book in zip(subs, _subspace_sqdist(sample, books), books):
            _group_means_into(sub, np.argmin(d, axis=1), ksub, book)
    return books


def pq_encode(
    df: DataFrame, books: "np.ndarray", id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, codes) rows: each vector compressed to its per-subspace nearest
    codebook entries — m small ints replacing dim floats (64× smaller at
    the default geometry).  One GEMM per subspace per Arrow batch."""

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            codes = _pq_codes(_unit_rows(pdf[vec_col]), books)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} long, codes array<int>"
    )


def adc_shortlist(
    index: DataFrame, qids: "np.ndarray", dt: "np.ndarray", shortlist: int, probe: "np.ndarray | None" = None
) -> DataFrame:
    """(query_id, neighbor_id) candidates from an asymmetric-distance scan
    of PQ-coded (vec_id, codes) rows: a row's approximate distance to query
    q is m lookups in q's table ``dt[q]`` (m × ksub), summed, and each
    partition keeps its ``shortlist`` nearest rows per query.  With
    ``probe`` (nq × nprobe list ids) the rows also carry ``list_id``, and
    each query scores only rows in the lists it probes — IVF's pruning.

    The shortlist is folded ACROSS Arrow batches (a partition arrives as
    ceil(rows / arrow.maxRecordsPerBatch) batches): one shortlist per
    batch would multiply the candidate shuffle by the batch count and break
    the partitions × queries × shortlist bound.  Running state is
    (nq, ≤ shortlist), query-set-sized."""
    subspace_idx = np.arange(dt.shape[1])

    def fold(batches):
        import pandas as pd

        best_d = best_i = None
        for pdf in batches:
            if not len(pdf):
                continue
            approx = dt[:, subspace_idx, np.stack(pdf["codes"].to_numpy())].sum(axis=2)  # (nq, n)
            if probe is not None:
                probed = (pdf["list_id"].to_numpy()[None, :, None] == probe[:, None, :]).any(axis=2)
                approx = np.where(probed, approx, np.inf)
            cand_i = np.broadcast_to(pdf["vec_id"].to_numpy(), approx.shape)
            if best_d is not None:
                approx = np.concatenate([best_d, approx], axis=1)
                cand_i = np.concatenate([best_i, cand_i], axis=1)
            k = min(shortlist, approx.shape[1])
            sel = np.argpartition(approx, k - 1, axis=1)[:, :k]  # (nq, k)
            best_d = np.take_along_axis(approx, sel, axis=1)
            best_i = np.take_along_axis(cand_i, sel, axis=1)
        if best_i is not None:
            keep = np.isfinite(best_d).ravel()  # an unprobed row is never a candidate
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, best_i.shape[1])[keep],
                    "neighbor_id": best_i.ravel()[keep],
                }
            )

    return (
        index.mapInPandas(fold, schema="query_id long, neighbor_id long")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
    )


def _pq_probe(
    spark: SparkSession, sf_dir: str, nprobe: int | None, shortlist_mult: int | None, coarse=None
) -> DataFrame:
    """The probe body of ``pq_topk_detail`` and, given ``coarse`` (the IVF
    trainer), of ``ivfpq_topk_detail``.  Driver side: train the codebooks,
    collect the {N_QUERIES} query vectors and build their distance tables
    (query-set-sized state shipped as a closure constant).  Corpus side:
    one encoding pass, then ``adc_shortlist``.  With ``coarse``, the same
    pass also assigns each row its nearest centroid's list, and each query
    probes its ``nprobe`` nearest lists."""

    def candidates(emb: DataFrame, knobs: dict, sample: "np.ndarray") -> DataFrame:
        books = train_pq_codebooks(sample)
        qpdf = emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").toPandas()
        qvecs = _unit_rows(qpdf["embedding"])
        dt = np.stack(list(_subspace_sqdist(qvecs, books)), axis=1)  # dt[q, j, c]
        probe = None
        if coarse is None:
            index = pq_encode(emb, books)
        else:
            centroids = coarse(sample)
            probe = np.argsort(-(qvecs @ centroids.T), axis=1)[:, : knobs["nprobe"]]

            def index_rows(batches):
                import pandas as pd

                for pdf in batches:
                    unit = _unit_rows(pdf["embedding"])
                    yield pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "list_id": np.argmax(unit @ centroids.T, axis=1).astype(np.int64),
                            "codes": list(_pq_codes(unit, books)),
                        }
                    )

            index = emb.select("vec_id", "embedding").mapInPandas(
                index_rows, schema="vec_id long, list_id long, codes array<int>"
            )
        shortlist = knobs["shortlist_mult"] * TOP_K
        return adc_shortlist(index, qpdf["vec_id"].to_numpy(), dt, shortlist, probe)

    return _trained_probe(spark, sf_dir, candidates, nprobe=nprobe, shortlist_mult=shortlist_mult)


def pq_topk_detail(
    spark: SparkSession, sf_dir: str, shortlist_mult: int | None = None
) -> DataFrame:
    """PQ/ADC approximate top-k: the corpus lives as m-byte PQ codes; each
    query precomputes an (m × ksub) table of squared distances to every
    codebook entry, and a corpus vector's approximate distance is m table
    lookups summed (asymmetric distance computation).  A per-partition ADC
    shortlist ({PQ_SHORTLIST}×k per query) feeds the shared exact re-rank
    tail, so the full-precision vectors are touched only for shortlist
    members.

    The 100 TB story is MEMORY, complementing IVF's compute story: 64
    float32 dims (256 B) become 8 codes (8 B int32 here; 4 bits each in a
    packed layout), and the scan is integer table lookups, not FMAs; the
    map-side local top-k bounds the shuffle to partitions × queries ×
    {PQ_SHORTLIST}·k rows.  Full panel output; the registered
    ``ann_pq_topk`` wraps it in the recall-bound summary, and pytest floors
    recall against the brute-force truth and pins the encoder to a NumPy
    reference.

    ``shortlist_mult=None`` (the registered path) resolves via
    ``scaled_ann_knobs`` on the corpus count — ``PQ_SHORTLIST`` at
    calibration scale, widening logarithmically past it."""
    return _pq_probe(spark, sf_dir, None, shortlist_mult)


def ivfpq_topk_detail(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    shortlist_mult: int | None = None,
) -> DataFrame:
    """Composite IVF-PQ approximate top-k — the production index shape
    (FAISS ``IVFx,PQy``; Jégou et al. 2011 §V): the corpus is inverted into
    IVF lists AND stored as PQ codes, a query touches only its
    {IVF_NPROBE}/{IVF_LISTS} probed lists, scans them with ADC table
    lookups, and exact-re-ranks a per-partition shortlist.  IVF bounds the
    COMPUTE (fraction of corpus scanned), PQ bounds the MEMORY (codes, not
    floats) — multiplicative with each other, which is why this is the
    trillion-vector layout.

    This variant encodes raw vectors, not per-list residuals (residual
    encoding needs a codebook conditioned on the coarse centroid; at 16
    lists the fidelity gain doesn't justify doubling the training surface).
    It is ``pq_topk_detail``'s probe with the IVF trainer plugged in: both
    trainers read one sample, and list assignment and PQ encoding happen
    in ONE Arrow pass, so the index build adds no job, no join and no
    corpus scan over plain PQ.  Full panel output; the registered
    ``ann_ivfpq_topk`` wraps it in the recall-bound summary.

    ``nprobe=None`` / ``shortlist_mult=None`` (the registered path)
    resolve via ``scaled_ann_knobs`` on the corpus count — pinned values
    at calibration scale, growing past it (see ``ivf_topk_detail``)."""
    return _pq_probe(spark, sf_dir, nprobe, shortlist_mult, train_ivf_centroids)


# --- filtered (metadata-constrained) vector search ------------------------------

_FILTERED_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, label,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, label,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS cv
  FROM embeddings
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])) AS DOUBLE)))
           AS cos_sim
  FROM q JOIN c ON q.label = c.label
  WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


@register(
    "ann_filtered_topk",
    oracle=_FILTERED_TOPK_ORACLE,
    tags=("datapipe", "similarity", "r11"),
)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (metadata-constrained) vector search: each query's top-k
    restricted to corpus vectors sharing the QUERY'S OWN label — the
    "vector search + WHERE clause" every retrieval deployment needs
    (FAISS/vector-DB "filtered search"): RAG over one tenant's documents,
    same-category recommendations, per-language retrieval.

    This is the PRE-FILTER strategy, the right one when the predicate is
    an equi-key: the label equality rides the JOIN (each query only ever
    meets its own label's partition of the corpus — cost |corpus|/|labels|
    per query, exact results), where POST-filtering an unfiltered ANN
    shortlist can return < k rows for selective predicates.  At 100 TB
    with a label-partitioned corpus layout this join prunes to matching
    partitions; composing the same predicate into the IVF/PQ tiers means
    building per-label lists (the standard vector-DB design).  Plan: the
    query panel broadcasts with its labels; one broadcast equi-join on
    label replaces ``ann_cosine_topk``'s crossJoin, then the shared
    quantized-cosine + rank tail.  Exactness: identical integer scheme to
    the brute-force tier — bit-identical cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            "label",
            quantize_vec("embedding").alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), "label", quantize_vec("embedding").alias("cv")
    )
    scored = (
        c.join(q, "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine_q(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


# --- per-label centroids -----------------------------------------------------

_CENTROID_ORACLE = """
WITH e AS (
  SELECT label,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
)
SELECT label, CAST(i AS INTEGER) AS pos,
       CAST(SUM(v[i + 1]) AS DOUBLE) / COUNT(*) AS centroid
FROM e, UNNEST(range(len(v))) AS u(i)
GROUP BY 1, 2
"""


@register("label_centroids", oracle=_CENTROID_ORACLE, tags=("datapipe", "similarity"))
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean embedding, one row per (label, dimension) — the class
    prototypes used for nearest-centroid classification and as IVF seeding.

    ``posexplode`` flattens vectors to (label, pos, component); the mean is
    computed as exact integer sum over quantized components divided by the
    count — one IEEE division of two exact values, so bit-identical across
    engines and partition orders (a double sum would depend on reduction
    order).  One shuffle keyed by (label, pos): |labels|×dim groups spread
    evenly regardless of class skew, because the dimension index is part of
    the key — a free salt."""
    from ..functions.vector import quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select("label", F.posexplode(quantize_vec("embedding")).alias("pos", "qval"))
    return flat.groupBy("label", "pos").agg(
        (F.sum("qval").cast("double") / F.count(F.lit(1))).alias("centroid")
    )


# --- per-dimension embedding statistics ---------------------------------------

_DIM_STATS_ORACLE = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
), d AS (
  SELECT CAST(i AS INTEGER) AS dim, v[i + 1] AS q
  FROM e, UNNEST(range(0, len(v))) AS u(i)
), agg AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(q) AS BIGINT) AS sum_q,
         CAST(MIN(q) AS BIGINT) AS min_q,
         CAST(MAX(q) AS BIGINT) AS max_q,
         CAST(SUM(q * q) AS BIGINT) AS ssq_q
  FROM d GROUP BY dim
)
SELECT dim, n_vecs, sum_q, min_q, max_q,
       CAST(sum_q AS DOUBLE) / (n_vecs * 1000000) AS mean,
       ((CAST(ssq_q AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / n_vecs) / n_vecs) AS var_q
FROM agg
"""


@register("embedding_dim_stats", oracle=_DIM_STATS_ORACLE, tags=("datapipe", "similarity", "stats"))
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (count / sum / min / max / mean /
    variance) — the fit step of feature standardization: whitening,
    dead-dimension detection, and quantizer range calibration all read this
    table before touching the vectors.

    Exactness scheme (same as the TWAP operator): values quantize to int64
    millionths, every aggregate is an exact integer SUM/MIN/MAX, and the
    derived mean/variance touch floating point only through single-step
    int64→double conversions in a pinned association order — bit-identical
    across engines, unlike a naive double Σ whose result depends on
    partition order.  Plan: posexplode → one dim-keyed aggregation; dim
    cardinality = embedding width, so the exchange is tiny."""
    from ..functions.vector import quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.posexplode(quantize_vec("embedding")).alias("dim", "q")
    )
    agg = d.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("q").cast("long").alias("sum_q"),
        F.min("q").cast("long").alias("min_q"),
        F.max("q").cast("long").alias("max_q"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ssq_q"),
    )
    mean = F.col("sum_q").cast("double") / (F.col("n_vecs") * 1000000)
    var_q = (
        F.col("ssq_q").cast("double")
        - F.col("sum_q").cast("double") * F.col("sum_q").cast("double") / F.col("n_vecs")
    ) / F.col("n_vecs")
    return agg.select(
        "dim", "n_vecs", "sum_q", "min_q", "max_q", mean.alias("mean"), var_q.alias("var_q")
    )


_STANDARDIZE_ORACLE = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
), d AS (
  SELECT vec_id, CAST(i AS INTEGER) AS dim, v[i + 1] AS q
  FROM e, UNNEST(range(0, len(v))) AS u(i)
), agg AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(q) AS BIGINT) AS sum_q,
         CAST(SUM(q * q) AS BIGINT) AS ssq_q
  FROM d GROUP BY dim
), st AS (
  SELECT dim,
         CAST(sum_q AS DOUBLE) / (n_vecs * 1000000) AS mean,
         ((CAST(ssq_q AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / n_vecs) / n_vecs) AS var_q
  FROM agg
)
SELECT d.vec_id, d.dim,
       CASE WHEN st.var_q > 0
            THEN (CAST(d.q AS DOUBLE) / 1000000 - st.mean) / sqrt(st.var_q / 1000000000000)
       END AS z
FROM d JOIN st USING (dim)
"""


@register("embedding_standardized", oracle=_STANDARDIZE_ORACLE, tags=("datapipe", "similarity", "stats"))
def q_embedding_standardized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-scoring of the embedding corpus — the transform step
    that consumes ``embedding_dim_stats``: z = (x − μ_dim) / σ_dim, emitted
    FLATTENED as (vec_id, dim, z) rows (scalar cells hash cross-engine;
    array outputs cannot).

    Determinism: stats come from the exact integer aggregates above; the
    per-row arithmetic is divisions, one subtraction, and ``sqrt`` — which
    IEEE-754 requires correctly rounded (unlike exp/log), so z-scores are
    bit-identical on both engines given the pinned association order.
    Constant dimensions (σ = 0) yield NULL.  Plan: the dim-keyed stats
    table is embedding-width-sized → broadcast join against the exploded
    corpus; one tiny aggregation exchange, no corpus shuffle at all."""
    from ..functions.vector import quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", F.posexplode(quantize_vec("embedding")).alias("dim", "q")
    )
    agg = d.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ssq_q"),
    )
    st = agg.select(
        "dim",
        (F.col("sum_q").cast("double") / (F.col("n_vecs") * 1000000)).alias("mean"),
        (
            (
                F.col("ssq_q").cast("double")
                - F.col("sum_q").cast("double") * F.col("sum_q").cast("double") / F.col("n_vecs")
            )
            / F.col("n_vecs")
        ).alias("var_q"),
    )
    z = (F.col("q").cast("double") / 1000000 - F.col("mean")) / F.sqrt(
        F.col("var_q") / 1000000000000
    )
    return (
        d.join(F.broadcast(st), "dim")
        .select("vec_id", "dim", F.when(F.col("var_q") > 0, z).alias("z"))
    )


def ann_recall_report_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality monitor: recall@{TOP_K} of each ANN tier (hyperplane
    LSH, IVF, PQ/ADC) against the exact brute-force top-k, per method — the number
    an ANN deployment alarms on.  One row per method: queries evaluated,
    mean recall, worst per-query recall.

    Every input is deterministic (fixed seeds, capped training sample,
    quantized integer cosine with pinned tie order), so the report is
    reproducible run-to-run.  This detail surface carries the raw recall
    numbers (pytest goldens + the scaling-curve sweeps read it); the
    registered ``ann_recall_report`` collapses them to per-method floor
    booleans the DuckDB twin asserts.  Plan: EVERY leg is read from the stage — the exact
    ground truth (``stage.staged_ann_exact_topk``, the quadratic offline
    cost) AND each tier's panel top-k (``stage.staged_ann_method_topk``,
    the per-index-build output) — exactly how a production recall monitor
    consumes them: index builds write their panel results once, the monitor
    joins tables.  This query's own plan is therefore |methods| query-set-
    sized parquet reads, one broadcast join against the truth, and a
    |methods|-row aggregate — no index probe, no corpus scan.  (Round-4
    verdict: the inline recompute of all five legs made this the worst plan
    in SCALE.md at 22 shuffles; staging the truth got it to 12; staging the
    method panels removes the four index probes too.)  The method list and
    the denominator grid both derive from ``ANN_METHODS`` so a new tier
    cannot be added to one and silently dropped from the other."""
    from .stage import staged_ann_exact_topk, staged_ann_method_topk

    exact = staged_ann_exact_topk(spark, sf_dir).select("query_id", "neighbor_id")
    # one tagged union → ONE broadcast-join against the (query-set-sized)
    # truth → ONE (method, query) aggregation, instead of a per-method
    # groupBy/left-join chain (3× the exchanges for the same result)
    tagged = None
    for method, _fn in ANN_METHODS:
        t = staged_ann_method_topk(spark, sf_dir, method).select(
            F.lit(method).alias("method"), "query_id", "neighbor_id"
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    hits = (
        tagged.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("method", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_true = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    methods = spark.createDataFrame(
        [(m,) for m, _fn in ANN_METHODS], "method string"
    )
    # (method × query) grid keeps zero-hit queries in the denominator;
    # both sides are model-sized → broadcast nested loop, no exchange
    grid = F.broadcast(methods).crossJoin(F.broadcast(n_true))
    per_query = grid.join(F.broadcast(hits), ["method", "query_id"], "left").select(
        "method",
        "query_id",
        (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("n_true")).alias("recall"),
    )
    return per_query.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 9).alias("mean_recall"),
        F.min("recall").alias("min_recall"),
    )




_INT8_EXPORT_ORACLE = """
WITH s AS (
  SELECT vec_id,
         list_aggregate(list_transform(embedding, e -> abs(CAST(e AS DOUBLE))), 'max') AS scale,
         embedding
  FROM embeddings
)
SELECT vec_id, scale,
       array_to_string(
         list_transform(embedding,
           e -> CAST(CASE WHEN scale = 0 THEN 0
                     ELSE floor(127.0 * CAST(e AS DOUBLE) / scale + 0.5) END AS BIGINT)),
         ',') AS q_csv
FROM s
"""


@register("embedding_int8_export", oracle=_INT8_EXPORT_ORACLE, tags=("datapipe", "embeddings", "r5"))
def q_embedding_int8_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus (per-vector
    max-abs scale, round-half-up to [-127, 127]) — the 4× shrink applied
    before shipping embeddings to serving / ANN index builds.  Exported as
    (vec_id, scale, q_csv) so the driver's scalar-only hash contract holds
    (the `inverted_index` lesson: array columns don't canonicalize).

    API surface: this is the engine's ``mapInArrow`` operator — one level
    lower than the Pandas exchanges elsewhere (`mapInPandas` byte features,
    `applyInPandas` grouped maps, GROUPED_AGG UDAF, UDTF): the kernel reads
    the Arrow ``RecordBatch`` list-array buffers directly (``flatten()``
    honors slice offsets), one NumPy pass per batch, no pandas
    materialization.  Quantized values are exact integers from identical
    float64 arithmetic on both engines (float32 widens exactly; one
    multiply, one divide, one floor — same order as the oracle), so the
    differential check pins the kernel bit-for-bit.  Zero shuffles."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def quantize(batches):
        for batch in batches:
            ids = batch.column(0)
            lists = batch.column(1)
            flat = lists.flatten()
            x = np.asarray(flat.to_numpy(zero_copy_only=False), dtype=np.float64)
            n = len(lists)
            x = x.reshape(n, -1) if n else x.reshape(0, 0)
            s = np.abs(x).max(axis=1) if n else np.zeros(0)
            safe = np.where(s == 0, 1.0, s)
            q = np.where(
                (s == 0)[:, None], 0, np.floor(127.0 * x / safe[:, None] + 0.5)
            ).astype(np.int64)
            q_csv = [",".join(str(v) for v in row) for row in q]
            yield pa.record_batch(
                [ids, pa.array(s, type=pa.float64()), pa.array(q_csv, type=pa.string())],
                names=["vec_id", "scale", "q_csv"],
            )

    return emb.mapInArrow(quantize, schema="vec_id long, scale double, q_csv string")


# --- prefix-energy (Matryoshka truncation) audit -------------------------------

#: prefix lengths audited (Matryoshka-style truncation budgets).
PREFIX_DIMS = (4, 8, 16, 32, 64)

_PREFIX_ENERGY_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
d AS (
  SELECT vec_id, CAST(i AS INTEGER) AS i, v[i + 1] AS q
  FROM e, UNNEST(range(0, len(v))) AS u(i)
),
ks(k) AS (VALUES {", ".join(f"({k})" for k in PREFIX_DIMS)}),
pv AS (
  SELECT d.vec_id, ks.k,
         CAST(SUM(CASE WHEN d.i < ks.k THEN d.q * d.q ELSE 0 END) AS BIGINT) AS pk,
         CAST(SUM(d.q * d.q) AS BIGINT) AS tot
  FROM d CROSS JOIN ks
  GROUP BY 1, 2
)
SELECT CAST(k AS INTEGER) AS prefix_dims,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(pk) AS DOUBLE) / CAST(SUM(tot) AS DOUBLE), 9) AS micro_energy,
       ROUND(CAST(SUM(CAST(CASE WHEN tot = 0 THEN 0.0
                                ELSE CAST(pk AS DOUBLE) / CAST(tot AS DOUBLE) END
                           AS DECIMAL(14,12))) AS DOUBLE) / COUNT(*), 9) AS macro_energy
FROM pv
GROUP BY k
"""


@register(
    "embedding_prefix_energy",
    oracle=_PREFIX_ENERGY_ORACLE,
    tags=("datapipe", "similarity", "stats", "r9"),
)
def q_embedding_prefix_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: for each prefix budget k, the fraction
    of each vector's squared L2 mass retained by its first k dimensions —
    corpus-pooled (micro: Σ prefix-energy / Σ total-energy) and
    vector-averaged (macro: mean of per-vector fractions).  This is the
    table you read before shipping truncated embeddings to a cheaper ANN
    tier (Kusupati et al. 2022's Matryoshka evaluation reduced to the
    storage question): a high micro at k=16 says the 4× smaller index
    keeps most of the geometry; a macro far below micro says a subset of
    vectors concentrates its energy in the tail and will degrade.

    Exactness: components quantize to int64 millionths (module discipline),
    so per-vector prefix/total squared sums are exact integers and their
    ratio is one correctly-rounded double, identical on both engines; the
    macro mean accumulates those ratios as DECIMAL(14,12) casts (exact,
    order-free), the micro mean divides two exact integer sums.  Scale
    shape: one stateless per-vector select (the k-fold fan-out is |K|×, a
    constant) + one |K|-row aggregate — no shuffle wider than {len(PREFIX_DIMS)} keys."""
    from ..functions.vector import quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_vec("embedding")
    ssq = lambda arr: F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    per_k = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                ssq(F.slice(q, 1, k)).alias("pk"),
                ssq(q).alias("tot"),
            )
            for k in PREFIX_DIMS
        ]
    )
    pv = emb.select(F.explode(per_k).alias("r")).select("r.k", "r.pk", "r.tot")
    ratio = F.when(F.col("tot") == 0, F.lit(0.0)).otherwise(
        F.col("pk").cast("double") / F.col("tot").cast("double")
    )
    return pv.groupBy(F.col("k").cast("int").alias("prefix_dims")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(
            F.sum(F.col("pk").cast("decimal(38,0)")).cast("double")
            / F.sum(F.col("tot").cast("decimal(38,0)")).cast("double"),
            9,
        ).alias("micro_energy"),
        F.round(
            F.sum(ratio.cast("decimal(14,12)")).cast("double") / F.count(F.lit(1)), 9
        ).alias("macro_energy"),
    )


# --- label outliers (mislabel candidates) --------------------------------------

OUTLIER_TOP_K = 5

_LABEL_OUTLIER_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
), flat AS (
  SELECT vec_id, label, CAST(i AS INTEGER) AS pos, v[i + 1] AS q
  FROM e, UNNEST(range(0, len(v))) AS u(i)
), s AS (
  SELECT label, pos,
         CAST(SUM(q) AS BIGINT) AS sumq,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM flat GROUP BY 1, 2
), d AS (
  SELECT f.vec_id, f.label, MIN(s.n) AS n,
         SUM(CAST(f.q * s.n - s.sumq AS HUGEINT)
             * CAST(f.q * s.n - s.sumq AS HUGEINT)) AS num
  FROM flat f JOIN s ON s.label = f.label AND s.pos = f.pos
  GROUP BY 1, 2
), scored AS (
  SELECT label, vec_id,
         CAST(num AS DOUBLE) / (1000000000000.0 * n * n) AS dist2,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY CAST(num AS DOUBLE) / (1000000000000.0 * n * n) DESC,
                                     vec_id) AS rank
  FROM d
)
SELECT label, vec_id, ROUND(dist2, 9) AS dist2, CAST(rank AS INTEGER) AS rank
FROM scored WHERE rank <= {OUTLIER_TOP_K}
"""


@register(
    "label_outlier_vectors",
    oracle=_LABEL_OUTLIER_ORACLE,
    tags=("datapipe", "similarity", "quality", "r10"),
)
def q_label_outlier_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the {OUTLIER_TOP_K} vectors FURTHEST
    from their own class centroid — the first-pass mislabel/contamination
    candidates a labeled-data audit reviews (the distance-to-prototype
    heart of confident-learning-style label cleaning, kept assumption-free).
    Consumes the same class prototypes ``label_centroids`` exposes, but
    keeps the arithmetic in the exact-integer scheme end-to-end.

    Exactness: with centroid c = sumq/n, the squared distance satisfies
    dist² = Σ(q_i·n − sumq_i)² / (10¹²·n²) — the numerator is a sum of
    exact integer squares (DECIMAL(38,0) on Spark, HUGEINT in the oracle;
    q·n ≈ 5·10⁹ squares to ~10¹⁹, far over int64), so the per-vector score
    is ONE huge-int→double conversion and one division: bit-identical
    cross-engine with no float accumulation anywhere, unlike a naive
    Σ(q/10⁶ − c)² whose result depends on summation order.

    Plan: the per-(label, pos) sufficient statistics are |labels|×dim rows
    → broadcast; each vector's numerator folds IN-ROW over the zipped
    (component, stats) arrays (no per-dimension shuffle back); the only
    exchange after the stats is the |labels|-partitioned top-k window."""
    from ..functions.vector import quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_vec("embedding")
    stats = (
        emb.select("label", F.posexplode(q).alias("pos", "qv"))
        .groupBy("label", "pos")
        .agg(F.sum("qv").cast("long").alias("sumq"), F.count(F.lit(1)).cast("long").alias("n"))
    )
    packed = stats.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("pos", "sumq"))).alias("ss"),
        F.min("n").cast("long").alias("n"),
    )
    joined = emb.select("vec_id", "label", q.alias("qv")).join(F.broadcast(packed), "label")
    diff2 = F.zip_with(
        F.col("qv"),
        F.col("ss"),
        lambda qi, s: (
            (qi * F.col("n") - s["sumq"]).cast("decimal(38,0)")
            * (qi * F.col("n") - s["sumq"]).cast("decimal(38,0)")
        ),
    )
    num = F.aggregate(diff2, F.lit(0).cast("decimal(38,0)"), lambda a, x: a + x)
    dist2 = num.cast("double") / (F.lit(1e12) * F.col("n") * F.col("n"))
    scored = joined.select("label", "vec_id", dist2.alias("dist2"))
    w = Window.partitionBy("label").orderBy(F.desc("dist2"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= OUTLIER_TOP_K)
        .select("label", "vec_id", F.round("dist2", 9).alias("dist2"), "rank")
    )


# --- k-center coreset selection -------------------------------------------------

KCENTER_K = 8


def coreset_kcenter_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez 1985, the 2-approximation): start
    from vec_id 0, repeatedly add the point FURTHEST from the chosen set —
    the diverse-subset selection active-learning and data-pruning pipelines
    use when they want coverage rather than density (SemDeDup prunes what's
    redundant; k-center picks what's irreplaceable).  Emits one row per
    selection round: (round, vec_id, dist2_to_set) where dist2_to_set is
    the covering radius at selection time — its monotone decrease is the
    coverage-vs-budget curve.

    Iterative like the engine's k-means/IRLS tiers: {KCENTER_K} rounds,
    each ONE distributed pass (Arrow-batched int64 GEMM-free kernel:
    per-batch min-distance to the ≤k broadcast centers + per-batch argmax)
    whose ≤|partitions| winner rows are collected and the global argmax
    picked driver-side — driver state is k center vectors, never
    corpus-sized.  Distances are EXACT integer
    squared-L2 over the quantized components (diffs ≤ 2·10⁶ square to
    4·10¹², ×64 dims < 2⁶³), tie-broken on vec_id, so the greedy choice —
    and therefore every later round — is bit-deterministic; pytest pins a
    NumPy replay.  Rows-only at the driver: a k-step greedy argmax has no
    SQL form."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def quantized(df):
        def kernel(batches):
            import pandas as pd  # worker-side

            for pdf in batches:
                q = (
                    np.floor(np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1_000_000)
                ).astype(np.int64)
                yield pd.DataFrame({"vec_id": pdf["vec_id"], "q": list(q)})

        return df.mapInPandas(kernel, schema="vec_id long, q array<long>")

    # cache the quantized frame for the iteration's lifetime: every round
    # scans it, and without the cache each round re-runs the Arrow quantize
    # kernel over the source (2 jobs/round × k rounds — measured ~2× the
    # whole query).  Scoped: unpersisted in the finally before returning,
    # so nothing leaks into the caller's session (the round-4 cache rule).
    qdf = quantized(emb).persist()
    try:
        first = qdf.filter(F.col("vec_id") == 0).toPandas()
        centers = [np.array(first["q"][0], dtype=np.int64)]
        chosen = [(0, 0, None)]
        for rnd in range(1, KCENTER_K):
            cmat = np.stack(centers)  # (r, dim) int64

            def furthest(batches):
                # emits the winning row's own vector alongside (id, dmin),
                # so the driver never runs a second fetch-the-center job
                import pandas as pd  # worker-side

                best_d = -1
                best_i = None
                best_q = None
                for pdf in batches:
                    if not len(pdf):
                        continue
                    x = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # (n, dim)
                    # exact integer dmin: per center, sum of squared int diffs
                    dmin = None
                    for c in cmat:
                        diff = x - c
                        d = (diff * diff).sum(axis=1)
                        dmin = d if dmin is None else np.minimum(dmin, d)
                    ids = pdf["vec_id"].to_numpy()
                    k = int(np.lexsort((ids, -dmin))[0])  # max dist, min id tiebreak
                    if (int(dmin[k]), -int(ids[k])) > (
                        best_d,
                        -(best_i if best_i is not None else 1 << 62),
                    ):
                        best_d, best_i, best_q = int(dmin[k]), int(ids[k]), x[k]
                if best_i is not None:
                    yield pd.DataFrame(
                        {"vec_id": [best_i], "dmin": [best_d], "q": [list(best_q)]}
                    )

            # one per-partition winner row each (≤ |partitions| rows —
            # control-flow-sized); the global argmax is picked driver-side
            # with the same exact-integer (dmin desc, vec_id asc) tie-break
            # the old orderBy().limit(1) applied — bit-identical choice,
            # one stage per round instead of a sort+limit job (round 11)
            winners = qdf.mapInPandas(
                furthest, schema="vec_id long, dmin long, q array<long>"
            ).collect()
            cand = min(winners, key=lambda r: (-r["dmin"], r["vec_id"]))
            chosen.append((rnd, cand["vec_id"], cand["dmin"]))
            centers.append(np.array(cand["q"], dtype=np.int64))
    finally:
        qdf.unpersist()

    # explicit nullable schema from Python tuples: round 0's dist2_to_set is
    # a true NULL, not a NaN that only survives because Arrow maps NaN→null
    # (with arrow.pyspark.enabled off, a pandas NaN round-trip keeps NaN and
    # a NaN→long cast lands 0 — the fragile path this replaces)
    rows = [
        (int(r), int(v), None if d is None else int(d)) for r, v, d in chosen
    ]
    return spark.createDataFrame(rows, "round int, vec_id long, dist2_to_set long")


_KCENTER_BOUND_ORACLE = f"""
SELECT CAST(k AS INTEGER) AS round,
       TRUE AS dist2_defined_iff_not_first,
       TRUE AS dist2_nonincreasing,
       TRUE AS centers_distinct
FROM range(0, {KCENTER_K}) t(k)
"""


@register(
    "coreset_kcenter_sample",
    oracle=_KCENTER_BOUND_ORACLE,
    tags=("datapipe", "similarity", "selection", "r10"),
)
def q_coreset_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the greedy k-center coreset (round-10
    oracle-ization): the ROUND universe is oracle-exact (exactly
    ``KCENTER_K`` selection rounds, 0-indexed — a selection loop that
    stops early or double-counts fails the hash), and three Spark-computed
    booleans the twin asserts TRUE encode Gonzalez's invariants:
    dist2_to_set is NULL exactly for the seed round and defined after,
    the max-min distance is NON-INCREASING across rounds (each added
    center can only shrink every point's distance-to-set — the property
    that makes greedy a 2-approximation), and the chosen centers are
    distinct.  The chosen ids and distances stay on
    ``coreset_kcenter_detail`` with the NumPy greedy-replay pin.

    Plan: the wrapper reshapes a ``KCENTER_K``-row driver-built frame —
    the windows below are |rounds|-bounded."""
    det = coreset_kcenter_detail(spark, sf_dir)
    w = Window.orderBy("round")
    prev = F.lag("dist2_to_set").over(w)
    distinct_ok = det.agg(
        (F.count_distinct("vec_id") == F.count(F.lit(1))).alias("ok")
    )
    return (
        det.select(
            "round",
            (
                F.col("dist2_to_set").isNull() == (F.col("round") == 0)
            ).alias("dist2_defined_iff_not_first"),
            F.coalesce(prev >= F.col("dist2_to_set"), F.lit(True)).alias(
                "dist2_nonincreasing"
            ),
        )
        .crossJoin(F.broadcast(distinct_ok))
        .select(
            "round",
            "dist2_defined_iff_not_first",
            "dist2_nonincreasing",
            F.col("ok").alias("centers_distinct"),
        )
    )


# --- ANN tier manifest -----------------------------------------------------------

#: The single source of truth for "which approximate tiers exist".  The
#: recall report derives BOTH its union of panel results and its
#: (method × query) denominator grid from this tuple, and the staging layer
#: resolves method names through it — so a new tier added here is
#: automatically staged, evaluated, and kept in the denominator (previously
#: the union loop and the grid literal were separate lists; adding a tier
#: to one but not the other silently dropped or zeroed it with no error).
ANN_METHODS: tuple[tuple[str, "object"], ...] = (
    ("lsh", lsh_topk_detail),
    ("ivf", ivf_topk_detail),
    ("pq", pq_topk_detail),
    ("ivfpq", ivfpq_topk_detail),
)

#: Calibration corpus size for ``scaled_ann_knobs``: ≈ the sf0.1 corpus
#: the pinned constants were tuned at (the sf100 receipt measured their
#: decay at 1000× this).
ANN_KNOB_BASE_N = 2_048


def scaled_ann_knobs(n_vectors: int) -> dict[str, int]:
    """Corpus-scaled probe knobs (round-9 verdict item 4): at ≤ the
    calibration scale they EQUAL the pinned constants — every golden and
    driver hash is computed with the pinned values — and they grow
    logarithmically past it, the path a 100 TB deployment takes instead
    of inheriting toy-scale constants:

    - ``nprobe``: +1 probed list per two corpus doublings, capped at
      ``IVF_LISTS``.  With nlist fixed, list population grows linearly
      with the corpus while the true top-k concentrates into whichever
      lists happen to border the query — more lists must be probed to
      keep the true neighbors inside the candidate set (FAISS practice
      scales nlist ∝ √n AND nprobe with it; with a pinned nlist the
      nprobe growth carries both).
    - ``shortlist_mult``: the per-partition ADC shortlist multiplier
      doubles every ~two doublings (×(1 + growth/2)).  ADC distance
      error is scale-free, but the number of corpus points packed inside
      one quantization-error band of the true top-k grows with n — the
      shortlist must widen logarithmically for the exact re-rank to see
      the true neighbors at all (the sf100 receipt's 0.0-recall queries
      are exactly this failure).

    The sf100 leg of ``tools/scaling_curve.py --ann`` measures both
    paths: pinned knobs (the decay row, kept for contrast) and these
    scaled knobs (which must restore the sf10 recall floors at 2M
    vectors)."""
    import math

    growth = max(0.0, math.log2(max(1, n_vectors) / ANN_KNOB_BASE_N))
    return {
        "nprobe": min(IVF_LISTS, IVF_NPROBE + int(math.ceil(growth / 2))),
        "shortlist_mult": int(PQ_SHORTLIST * (1 + growth / 2)),
    }


#: Corpus-MEAN recall@k floor per approximate tier — the driver-gated bound
#: (round-10, the round-9 sketch pattern applied to ANN).  Values are the
#: bars the pytest pins have enforced since each tier landed (hyperplane
#: LSH on near-uniform synthetic vectors is the weak tier by design; IVF
#: probes nprobe/lists of the corpus; PQ re-ranks an ADC shortlist; IVF-PQ
#: composes both losses).  Per-QUERY floors are deliberately NOT gated:
#: measured per-query recall at sf0.01 includes a 0.0 (one LSH query whose
#: true neighbors collide in no table) — exactly the tail the mean bound
#: tolerates and ``ann_recall_report``'s min_recall column surfaces.
ANN_MEAN_RECALL_FLOORS: dict[str, float] = {
    "lsh": 0.2,
    "ivf": 0.3,
    "pq": 0.5,
    "ivfpq": 0.2,
}

#: Shared DuckDB twin for every ``ann_*_topk`` bound summary: the exact
#: columns (query panel ids, k results, k truth rows) computed from the
#: corpus, and the Spark-computed recall bound asserted TRUE.
_ANN_BOUND_ORACLE = f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM embeddings)
SELECT vec_id AS query_id,
       CAST(LEAST({TOP_K}, c - 1) AS BIGINT) AS n_results,
       CAST(LEAST({TOP_K}, c - 1) AS BIGINT) AS n_true,
       TRUE AS mean_recall_ge_floor
FROM embeddings, n
WHERE vec_id < {N_QUERIES}
"""


def ann_bound_summary(spark: SparkSession, sf_dir: str, method: str) -> DataFrame:
    """Per-query bound summary of one ANN tier — the registered, hash-gated
    surface of each approximate index (round-10; the pattern
    ``daily_distinct_users_sketch_rollup`` proved in round 9): the probe's
    full panel collapses to (query_id, n_results, n_true,
    mean_recall_ge_floor), where the ids and counts are EXACT columns the
    DuckDB twin recomputes from the corpus, and the corpus-mean recall
    vs the staged brute-force truth is a Spark-computed boolean the twin
    asserts TRUE.  An index whose recall drifts under its floor — the
    regression the former rows-only check could never see — now FAILS the
    driver's hash gate.

    Plan: the probe (the measured leg) is the tier's own index scan; the
    truth side reads ``staged_ann_exact_topk`` (the once-per-snapshot
    offline table every recall consumer joins); everything after is
    query-panel-sized (one FULL OUTER join, one per-query aggregate and
    one whole-panel window over {N_QUERIES} rows).  The mean accumulates
    per-query recalls as DECIMAL(14,12) casts — exact and order-free — so
    the boolean cannot flap on partial-aggregation order."""
    from .stage import staged_ann_exact_topk

    # One FULL OUTER join reads the probe once, inside one plan: per query
    # its rows are the hits, the missed truth neighbours and the probe's
    # non-neighbours, each counted by its side's marker.  Truth's query
    # universe is the queries with a truth row.
    probe = dict(ANN_METHODS)[method](spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(True).alias("in_probe")
    )
    truth = staged_ann_exact_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(True).alias("in_truth")
    )
    per_q = (
        truth.join(probe, ["query_id", "neighbor_id"], "full")
        .groupBy("query_id")
        .agg(
            F.count("in_probe").alias("n_results"),
            F.count("in_truth").alias("n_true"),
            F.count(F.when(F.col("in_truth") & F.col("in_probe"), 1)).alias("n_hits"),
        )
        .filter(F.col("n_true") > 0)
    )
    panel = Window.partitionBy()
    recall = F.col("n_hits").cast("double") / F.col("n_true")
    mean_recall = (
        F.sum(recall.cast("decimal(14,12)")).over(panel).cast("double")
        / F.count(F.lit(1)).over(panel)
    )
    floor = ANN_MEAN_RECALL_FLOORS[method]
    return per_q.select(
        "query_id",
        "n_results",
        "n_true",
        (mean_recall >= F.lit(floor)).alias("mean_recall_ge_floor"),
    )


@register("ann_lsh_topk", oracle=_ANN_BOUND_ORACLE, tags=("datapipe", "similarity", "lsh"))
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH tier, bound-summary surface: runs the
    ``lsh_topk_detail`` probe and gates its corpus-mean recall@k at the
    ``ANN_MEAN_RECALL_FLOORS['lsh']`` bar against the staged exact truth
    (see ``ann_bound_summary`` for the oracle-ization contract)."""
    return ann_bound_summary(spark, sf_dir, "lsh")


@register("ann_ivf_topk", oracle=_ANN_BOUND_ORACLE, tags=("datapipe", "similarity", "ivf"))
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tier, bound-summary surface: runs the ``ivf_topk_detail`` probe
    (nprobe/lists pruning) and gates its corpus-mean recall@k at the
    ``ANN_MEAN_RECALL_FLOORS['ivf']`` bar against the staged exact truth."""
    return ann_bound_summary(spark, sf_dir, "ivf")


@register("ann_pq_topk", oracle=_ANN_BOUND_ORACLE, tags=("datapipe", "similarity", "pq", "r6"))
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC tier, bound-summary surface: runs the ``pq_topk_detail``
    probe (codes + distance-table scan + exact re-rank) and gates its
    corpus-mean recall@k at the ``ANN_MEAN_RECALL_FLOORS['pq']`` bar
    against the staged exact truth."""
    return ann_bound_summary(spark, sf_dir, "pq")


@register(
    "ann_ivfpq_topk", oracle=_ANN_BOUND_ORACLE, tags=("datapipe", "similarity", "ivf", "pq", "r10")
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite tier, bound-summary surface: runs the
    ``ivfpq_topk_detail`` probe (coarse pruning + ADC scan) and gates its
    corpus-mean recall@k at the ``ANN_MEAN_RECALL_FLOORS['ivfpq']`` bar
    against the staged exact truth."""
    return ann_bound_summary(spark, sf_dir, "ivfpq")


#: DuckDB twin for the recall report: the method manifest and panel size
#: are exact; the per-method mean-recall floor is a Spark-computed boolean
#: asserted TRUE.  Built from ``ANN_METHODS`` so a new tier joins the
#: oracle automatically.
_RECALL_REPORT_ORACLE = (
    "SELECT method, CAST(n_queries AS BIGINT) AS n_queries, mean_recall_ge_floor\n"
    "FROM (VALUES "
    + ", ".join(f"('{m}', {N_QUERIES}, TRUE)" for m, _fn in ANN_METHODS)
    + ") AS t(method, n_queries, mean_recall_ge_floor)"
)


@register(
    "ann_recall_report",
    oracle=_RECALL_REPORT_ORACLE,
    tags=("datapipe", "similarity", "diagnostic", "r5"),
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the index-quality monitor (round-10
    oracle-ization): one row per ANN tier with the panel size and a
    ``mean_recall_ge_floor`` boolean — the tier's corpus-mean recall@k
    from ``ann_recall_report_detail`` compared against its
    ``ANN_MEAN_RECALL_FLOORS`` bar Spark-side, asserted TRUE by the
    DuckDB twin.  A tier decaying under its floor (the drift this monitor
    exists to alarm on) now fails the driver's hash gate; the raw
    mean/min numbers stay on the detail surface for humans, pytest
    goldens, and the scaling-curve sweeps."""
    det = ann_recall_report_detail(spark, sf_dir)
    floor = F.lit(None).cast("double")
    for m, f in ANN_MEAN_RECALL_FLOORS.items():
        floor = F.when(F.col("method") == m, F.lit(f)).otherwise(floor)
    return det.select(
        "method",
        "n_queries",
        (F.col("mean_recall") >= floor).alias("mean_recall_ge_floor"),
    )


# --- contrastive hard-pair mining ----------------------------------------------

_HARD_PAIRS_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, label AS clabel,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS cv
  FROM embeddings
), scored AS (
  SELECT q.query_id, q.qlabel, c.neighbor_id, c.clabel,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, len(cv) + 1), i -> cv[i] * cv[i])) AS DOUBLE)))
           AS cos_sim
  FROM q, c
  WHERE q.query_id <> c.neighbor_id
), neg AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored WHERE clabel <> qlabel
), pos AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim ASC, neighbor_id ASC) AS rn
  FROM scored WHERE clabel = qlabel
)
SELECT q2.query_id, CAST(q2.qlabel AS INTEGER) AS query_label,
       n.neighbor_id AS hard_neg_id, ROUND(n.cos_sim, 9) AS hard_neg_sim,
       p.neighbor_id AS hard_pos_id, ROUND(p.cos_sim, 9) AS hard_pos_sim,
       ROUND(ROUND(p.cos_sim, 9) - ROUND(n.cos_sim, 9), 9) AS margin
FROM (SELECT DISTINCT query_id, qlabel FROM scored) q2
JOIN neg n ON n.query_id = q2.query_id AND n.rn = 1
JOIN pos p ON p.query_id = q2.query_id AND p.rn = 1
"""


@register(
    "embedding_hard_negatives",
    oracle=_HARD_PAIRS_ORACLE,
    tags=("datapipe", "similarity", "training", "r12"),
)
def q_embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-pair mining — the data-side step of embedding-model
    training (DPR/SimCSE-style): for each query vector, the HARDEST
    NEGATIVE (highest-cosine corpus vector with a DIFFERENT label — the
    confusable the model must learn to push away) and the HARDEST POSITIVE
    (lowest-cosine same-label vector — the same-class example it must still
    pull in).  ``margin`` = hard_pos_sim − hard_neg_sim; negative margins
    flag triplet violations, the examples a margin-loss fine-tune feeds
    first.

    Plan: the quantized broadcast queries × corpus scoring of
    ``ann_cosine_topk`` (exact integer dots, so the DuckDB oracle replays
    the floats bit-for-bit) with the label joined in, then two panel-keyed
    rank windows (|panel| partitions — panel-bounded, like every query-set
    op here) and one output-sized join.  At 100 TB you mine within each
    query's IVF candidate lists instead of the full corpus — the staged
    per-method panels are exactly that substrate; the brute pass stays as
    the audit tier."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    qlabels = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    )
    # cosine_topk's scoring stage inline (no rank yet — BOTH extremes of the
    # score distribution are consumed here, so a top-k cut would be wrong)
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            quantize_vec("embedding").alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        quantize_vec("embedding").alias("cv"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "qlabel",
            "neighbor_id",
            "clabel",
            cosine_q(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w_neg = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    w_pos = Window.partitionBy("query_id").orderBy(F.asc("cos_sim"), F.asc("neighbor_id"))
    neg = (
        scored.filter(F.col("clabel") != F.col("qlabel"))
        .withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("hard_neg_id"),
            F.round("cos_sim", 9).alias("hard_neg_sim"),
        )
    )
    pos = (
        scored.filter(F.col("clabel") == F.col("qlabel"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("hard_pos_id"),
            F.round("cos_sim", 9).alias("hard_pos_sim"),
        )
    )
    return (
        qlabels.join(neg, "query_id")
        .join(pos, "query_id")
        .select(
            "query_id",
            F.col("qlabel").cast("int").alias("query_label"),
            "hard_neg_id",
            "hard_neg_sim",
            "hard_pos_id",
            "hard_pos_sim",
            F.round(F.col("hard_pos_sim") - F.col("hard_neg_sim"), 9).alias("margin"),
        )
    )


# --- Matryoshka truncation recall curve ------------------------------------------

MRL_DIMS = (8, 16, 32)  # prefix budgets evaluated against the full-dim truth


def _mrl_oracle() -> str:
    """Per-budget CTE chain: quantized cosine top-k over each prefix, hit
    counts against the full-dimension truth, exact-integer recall rollup."""
    qv = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

    def scored(alias: str, dim_expr: str) -> str:
        return f"""{alias} AS (
  SELECT q.query_id, c.neighbor_id,
         CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])) AS DOUBLE)))
           AS cos_sim
  FROM (SELECT vec_id AS query_id, {dim_expr} AS v FROM embeddings WHERE vec_id < {N_QUERIES}) q,
       (SELECT vec_id AS neighbor_id, {dim_expr} AS v FROM embeddings) c
  WHERE q.query_id <> c.neighbor_id
)"""

    parts = [scored("full_sc", qv)]
    parts.append(f""", truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
    FROM full_sc
  ) WHERE rn <= {TOP_K}
)""")
    rows = []
    for d in MRL_DIMS:
        parts.append(", " + scored(f"sc{d}", f"list_slice({qv}, 1, {d})"))
        parts.append(f""", top{d} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
    FROM sc{d}
  ) WHERE rn <= {TOP_K}
), hits{d} AS (
  SELECT t.query_id, COUNT(a.neighbor_id) AS h
  FROM (SELECT DISTINCT query_id FROM truth) t
  LEFT JOIN (SELECT x.query_id, x.neighbor_id FROM top{d} x JOIN truth USING (query_id, neighbor_id)) a
    USING (query_id)
  GROUP BY t.query_id
)""")
        rows.append(
            f"SELECT CAST({d} AS INTEGER) AS prefix_dim, CAST(COUNT(*) AS BIGINT) AS n_queries, "
            f"CAST(SUM(h) AS DOUBLE) / ({TOP_K} * COUNT(*)) AS avg_recall, "
            f"CAST(MIN(h) AS DOUBLE) / {TOP_K} AS min_recall FROM hits{d}"
        )
    return "WITH " + "".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


@register(
    "matryoshka_recall_curve",
    oracle=_mrl_oracle(),
    tags=("datapipe", "similarity", "diagnostic", "r12"),
)
def q_matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality under embedding TRUNCATION: exact top-{TOP_K}
    recall of each prefix budget {MRL_DIMS} against the full-dimension
    truth — the decision table for Matryoshka-style serving (store/search
    the first d dims at 1/8th the cost; this says what ranking quality
    that buys).  The RETRIEVAL complement of ``embedding_prefix_energy``
    (energy says how much mass a prefix retains; this says how much of the
    actual neighbor RANKING survives).

    Plan: one brute panel pass per budget plus the full-dim truth —
    panel×corpus each (linear in corpus, the deliberate eval tier, same
    shape as ``ann_cosine_topk``); hit counting is an output-bounded join;
    the rollup divides exact integer hit sums ONCE per budget, so no
    float-summation order exists.  At 100 TB the truth comes from the
    staged exact panel and each budget probes its truncated index —
    identical joins, staged inputs."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    truth = cosine_topk(emb, queries, TOP_K).select("query_id", "neighbor_id")
    q_ids = queries.select(F.col("vec_id").alias("query_id"))
    parts = []
    for d in MRL_DIMS:
        t = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        appx = cosine_topk(t, t.filter(F.col("vec_id") < N_QUERIES), TOP_K).select(
            "query_id", "neighbor_id"
        )
        hits = (
            q_ids.join(
                appx.join(truth, ["query_id", "neighbor_id"])
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("h")),
                "query_id",
                "left",
            )
            .select("query_id", F.coalesce("h", F.lit(0)).alias("h"))
        )
        parts.append(
            hits.agg(
                F.lit(d).cast("int").alias("prefix_dim"),
                F.count(F.lit(1)).cast("long").alias("n_queries"),
                (F.sum("h").cast("double") / (TOP_K * F.count(F.lit(1)))).alias("avg_recall"),
                (F.min("h").cast("double") / TOP_K).alias("min_recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
