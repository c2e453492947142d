"""Distributed Lloyd's k-means over the embedding table — the iterative
whole-corpus trainer that complements IVF's capped-sample k-means
(``similarity.train_ivf_centroids`` over ``similarity.training_sample``).

No reference counterpart (SURVEY.md §2.9 extension tier).  Semantic
clustering of embeddings is the backbone of corpus organization (topic
bucketing, semantic dedup beyond near-identical pairs, cluster-balanced
sampling).  IVF's trainer deliberately samples because index quality only
needs O(k·dim) data; when the CLUSTERS are the product, training must see
the whole corpus — and that is exactly Lloyd's algorithm in its classic
distributed form:

- **assignment** (corpus-sized): one Arrow-batched GEMM per batch against
  the broadcast k×dim centroid matrix — embarrassingly parallel, zero
  shuffles;
- **update** (k×dim-sized): fused into the SAME Arrow pass — each batch
  emits its per-cluster partial sums (k×dim rows, model-sized), one tiny
  ``groupBy(cluster, pos)`` merges them, and the k×dim-row collect is
  control-flow-sized (the CC-fingerprint rule: collects may scale with
  the model, never the corpus).  Round 11: this replaced an
  assign → join-on-id → ``posexplode`` shape that shuffled corpus×dim
  scalar rows per iteration.

Initialization is deterministic and engine-independent: the k vectors with
the smallest ``md5(vec_id)`` (a content-hash sample, same device as
``stratified_hash_sample``), so reruns converge identically up to float
summation order.  Iterative fixed point → rows-only driver check; blob
recovery and agreement with a pure-numpy Lloyd's run are pinned in
``tests/test_kmeans.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

KMEANS_K = 8
KMEANS_ITERS = 6


def _assign(emb: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str) -> DataFrame:
    """(id, cluster, dist²) via one GEMM per Arrow batch."""
    cents = centroids.copy()

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:  # Spark normally emits none, but latent ValueError otherwise
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # argmin ||x-c||² = argmax (x·c − ½||c||²)
            scores = x @ cents.T - 0.5 * (cents * cents).sum(axis=1)
            best = np.argmax(scores, axis=1)
            d2 = ((x - cents[best]) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "cluster": best.astype(np.int64), "dist2": d2}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, cluster long, dist2 double"
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Whole-corpus Lloyd's: returns (centroids k×dim ndarray, assignment
    DataFrame (id, cluster, dist2) for the final centroids).  A zero-row
    corpus fits no centroids: an empty (0, 0) array and an empty
    assignment."""
    seed_rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    if not seed_rows:
        return np.empty((0, 0)), _assign(emb, np.empty((0, 0)), id_col, vec_col)
    centroids = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in seed_rows])
    dim = centroids.shape[1]
    narrow = emb.select(id_col, vec_col)
    for _ in range(iters):
        # Fused assign+partial-update: ONE Arrow pass per iteration emits
        # per-batch (cluster, pos, s, n) partial sums — k×dim rows per
        # batch, model-sized.  The round-11 rewrite of the original
        # assign → join-back-on-id → posexplode(corpus×dim scalar rows) →
        # groupBy shape, which paid a corpus-sized id join plus a
        # corpus×dim shuffle EVERY iteration just to rebuild vectors the
        # assignment pass already held in its batch.  Summation order
        # changes (NumPy per-batch column sums, then Spark sums the
        # partials, vs one flat scalar sum) — both are arbitrary-order
        # float reductions, bounded by the same test tolerances
        # (``test_kmeans_matches_numpy_reference`` atol 1e-8).
        cents = centroids.copy()

        def partial_update(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:  # same guard as _assign: np.stack raises on empty
                    continue
                x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                scores = x @ cents.T - 0.5 * (cents * cents).sum(axis=1)
                best = np.argmax(scores, axis=1)
                out_c, out_p, out_s, out_n = [], [], [], []
                for c in np.unique(best):
                    m = x[best == c]
                    s = m.sum(axis=0)
                    out_c.extend([int(c)] * dim)
                    out_p.extend(range(dim))
                    out_s.extend(float(v) for v in s)
                    out_n.extend([len(m)] * dim)
                yield pd.DataFrame({"cluster": out_c, "pos": out_p, "s": out_s, "n": out_n})

        sums = (
            narrow.mapInPandas(partial_update, schema="cluster long, pos long, s double, n long")
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()  # k×dim rows: model-sized, not corpus-sized
        )
        new = centroids.copy()
        counts = np.zeros(k, dtype=np.int64)
        acc = np.zeros((k, dim), dtype=np.float64)
        for r in sums:
            acc[r["cluster"], r["pos"]] = r["s"]
            counts[r["cluster"]] = r["n"]
        for c in range(k):
            if counts[c]:
                new[c] = acc[c] / counts[c]  # empty clusters keep their centroid
        centroids = new
    return centroids, _assign(emb, centroids, id_col, vec_col)


def kmeans_embedding_clusters_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster every embedding with whole-corpus Lloyd's k-means; output
    (vec_id, cluster, dist2) for the converged centroids.  Semantics
    pinned in ``tests/test_kmeans.py`` (NumPy Lloyd's replica, same
    seeds); the registered ``kmeans_embedding_clusters`` wraps this in
    the assignment bound summary."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit(emb)
    return assigned


_KMEANS_BOUND_ORACLE = """
SELECT vec_id, TRUE AS cluster_in_range, TRUE AS dist2_nonnegative
FROM embeddings
"""


@register(
    "kmeans_embedding_clusters",
    oracle=_KMEANS_BOUND_ORACLE,
    tags=("datapipe", "embeddings", "iterative", "r4"),
)
def q_kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the k-means clustering (round-10
    oracle-ization): the VECTOR universe is oracle-exact — every corpus
    embedding assigned to exactly one cluster (an assignment pass that
    drops or duplicates a vector fails the hash on its id) — plus two
    Spark-computed booleans the twin asserts TRUE: the cluster id lies in
    [0, k) and the distance-to-centroid is non-negative.  The assignment
    geometry itself (which cluster, what distance) stays on
    ``kmeans_embedding_clusters_detail`` with the NumPy Lloyd's replica
    (same seeds) and separated-blob recovery pins.

    Plan: the same fit; the booleans are per-row expressions."""
    det = kmeans_embedding_clusters_detail(spark, sf_dir)
    return det.select(
        "vec_id",
        ((F.col("cluster") >= 0) & (F.col("cluster") < KMEANS_K)).alias("cluster_in_range"),
        (F.col("dist2") >= 0).alias("dist2_nonnegative"),
    )


# --- semantic dedup ----------------------------------------------------------

SEMDEDUP_TAU = 0.40  # cosine threshold; synthetic corpus max pairwise ≈ 0.6


def semantic_dedup(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    tau: float = SEMDEDUP_TAU,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): k-means-cluster the
    embeddings, then WITHIN each cluster mark a vector as a duplicate iff
    some smaller-id vector in the same cluster has cosine similarity ≥ tau
    (keep-earliest, a pure pairwise rule with pinned determinism).

    The clustering is the scale trick: cosine comparisons only happen inside
    a cluster, so the quadratic term is Σ|cluster|² instead of n² — at
    corpus scale you grow k with n to hold |cluster| ≈ constant (exactly the
    bucket-size discipline of ``dedup.neardup_embedding_lsh``; SemDeDup
    trades LSH's recall guarantee for semantic — not just geometric —
    locality from the learned clusters).  Per-cluster work is one
    normalized GEMM inside ``applyInPandas``; nothing driver-side but the
    k×dim centroid fit.

    Returns (vec_id, cluster, is_dup)."""
    import pandas as pd  # noqa: F401 — imported for the worker closure

    _, assigned = kmeans_fit(emb, k=k, iters=iters)
    withvec = assigned.select("vec_id", "cluster").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )

    def dedup_group(pdf):
        import numpy as np
        import pandas as pd

        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        x = np.stack(pdf["embedding"].to_numpy())[order].astype(np.float64)
        norms = np.sqrt((x * x).sum(axis=1))
        norms[norms == 0.0] = 1.0
        xn = x / norms[:, None]
        sims = xn @ xn.T
        dropped = np.tril(sims >= tau, k=-1).any(axis=1)
        return pd.DataFrame(
            {"vec_id": ids, "cluster": pdf["cluster"].to_numpy()[order], "is_dup": dropped}
        )

    return withvec.groupBy("cluster").applyInPandas(
        dedup_group, schema="vec_id long, cluster long, is_dup boolean"
    )


def semantic_dedup_docs_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over the embedding corpus: (vec_id, cluster, is_dup)
    per vector.  Downstream keeps ``NOT is_dup`` rows.  Exact agreement
    with a pure-numpy reference (same init, same iterations, same pairwise
    rule) and the keep/drop invariants are pinned in ``tests/test_r5_ops.py``
    and the r6b goldens; the registered ``semantic_dedup_docs`` wraps this
    in the recheck bound summary."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb)


#: Float guard-band for the SQL-side cosine recheck: the detail computes
#: cosines with NumPy float64 GEMMs, the recheck with Spark's sequential
#: ``aggregate`` fold — identical reals, different summation order.  A pair
#: whose cosine lands within ±1e-9 of tau satisfies the boolean either way
#: (loose bound for dups, strict bound for keeps), so last-ulp noise can
#: never flap the gate; 1e-9 is ~1e6 ulps at cosine scale while the corpus
#: has no pair that close to the threshold.
_SEMDEDUP_EPS = 1e-9

_SEMDEDUP_BOUND_ORACLE = """
SELECT vec_id,
       TRUE AS cluster_in_range,
       TRUE AS first_in_cluster_kept,
       TRUE AS dup_flag_matches_recheck
FROM embeddings
"""


@register(
    "semantic_dedup_docs",
    oracle=_SEMDEDUP_BOUND_ORACLE,
    tags=("datapipe", "embeddings", "dedup", "iterative", "r5"),
)
def q_semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of SemDeDup (round-11 oracle-ization — the last
    rows-only query alongside the trainer): the VECTOR universe is
    oracle-exact — every corpus embedding judged exactly once — plus three
    Spark-computed booleans the DuckDB twin asserts TRUE:

    - ``cluster_in_range``: the assignment lies in [0, k);
    - ``first_in_cluster_kept``: the smallest vec_id of each cluster is
      never marked duplicate (the keep-earliest rule's anchor case);
    - ``dup_flag_matches_recheck``: is_dup agrees with an INDEPENDENT
      re-derivation of "some earlier same-cluster vector has cosine ≥ tau"
      — in-cluster pairs joined JVM-side and the cosine folded with
      ``aggregate``/``zip_with`` (a different arithmetic path from the
      detail's NumPy GEMM), with a ±``_SEMDEDUP_EPS`` guard-band so summation-order
      noise cannot flap the boolean.

    A clustering or pairwise-rule regression now fails the driver's hash
    gate; the actual (cluster, is_dup) surface stays on
    ``semantic_dedup_docs_detail`` with the NumPy replica and goldens.

    Plan: the recheck leg is the same Σ|cluster|² shape as the detail's
    per-cluster GEMM (grow k with n to hold |cluster| constant — the
    SemDeDup scaling rule), expressed as an equi-join on cluster with
    JVM-side array folds; the detail output is localCheckpointed (corpus
    vector-sized) so the per-cluster GEMM pass runs once, not once per leg."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the pin stays: without it the Python GEMM pass re-runs per leg, and an
    # A/B run measured that faster at sf0.01 but slower at sf0.1
    det = semantic_dedup(emb).localCheckpoint(eager=True)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x * x))
    withvec = det.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "vec_id",
        "cluster",
        "is_dup",
        dbl.alias("v"),
        # zero vectors: same guard as the detail (norm 0 → 1.0, cosine 0)
        F.when(norm == 0.0, F.lit(1.0)).otherwise(norm).alias("nrm"),
    )
    # Pair-generation join SALTED on a deterministic hash of the b-side id:
    # the bare cluster key has only KMEANS_K (= 8) distinct values, so the
    # in-cluster pair join ran on ≤ k tasks no matter the core count (the
    # Σ|cluster|² fold work — the expensive leg — serialized on 8 of 32
    # local cores; the same |keys|-bounded trap the skew helpers exist
    # for).  b carries salt = pmod(hash(bid), S); a explodes all S salt
    # values, so the join key (cluster, salt) has k·S distinct values and
    # the SAME pair set comes out (every (a, b) pair meets exactly at
    # b's salt).  Deterministic — no rand() — so retried tasks reproduce.
    n_salt = 8
    a = withvec.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).alias("a")
    b = withvec.select(
        "cluster",
        F.col("vec_id").alias("bid"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
        F.pmod(F.xxhash64("vec_id"), F.lit(n_salt)).cast("int").alias("_salt"),
    ).alias("b")
    dot = F.aggregate(F.zip_with("a.v", "b.bv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("a.nrm") * F.col("b.bnrm"))
    partners = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("b.bid") < F.col("a.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(
            F.max((cos >= SEMDEDUP_TAU - _SEMDEDUP_EPS).cast("int")).alias("loose"),
            F.max((cos >= SEMDEDUP_TAU + _SEMDEDUP_EPS).cast("int")).alias("strict"),
        )
    )
    first = det.groupBy("cluster").agg(F.min("vec_id").alias("first_id"))
    return (
        det.join(partners, "vec_id", "left")
        .join(F.broadcast(first), "cluster")
        .select(
            "vec_id",
            ((F.col("cluster") >= 0) & (F.col("cluster") < F.lit(KMEANS_K))).alias(
                "cluster_in_range"
            ),
            (~(F.col("is_dup") & (F.col("vec_id") == F.col("first_id")))).alias(
                "first_in_cluster_kept"
            ),
            F.when(F.col("is_dup"), F.coalesce(F.col("loose"), F.lit(0)) == 1)
            .otherwise(F.coalesce(F.col("strict"), F.lit(0)) == 0)
            .alias("dup_flag_matches_recheck"),
        )
    )
