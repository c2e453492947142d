"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pairwise near-dup detection (``datapipe.dedup``) yields *edges*; an actual
dedup pass needs *clusters* — near-duplication is not transitive (a~b and
b~c does not imply a~c), so chains must be collapsed into one group with one
canonical representative before dropping rows.  No reference counterpart
(the reference has no iterative algorithms at all; SURVEY.md §2.9) — this is
the engine-extension tier for LLM training-data curation.

Connected components is alternating large-star/small-star (Kiveris et
al., "Connected Components in MapReduce and Beyond"; the same fixpoint
GraphFrames/GraphX converge to): O(log diameter) rounds, each one
edge-keyed groupBy/join pair, so consecutive rounds shuffle on node id with
the same hash partitioning and AQE coalesces the tiny frontier exchanges.
``localCheckpoint`` truncates lineage each round (without it the plan
doubles per iteration and the driver re-optimizes an exponentially growing
tree).

The driver loop is *control flow only*, and each round's one action is
its checkpoint: the round's convergence scalar (the CC edge-set
fingerprint, the BFS frontier size) is an ``observe`` metric attached to
the frame the round checkpoints and read after
``localCheckpoint(eager=True)`` — no second action re-runs the round's
plan to read one number.

Oracle: DuckDB ``WITH RECURSIVE`` min-label reachability over the exact
Jaccard pair set — the textbook SQL formulation of the same fixpoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dq import observe_audit
from ..registry import register
from ..sources import load_table
from .dedup import _JACCARD_CTES


def _checkpoint_observed(df: DataFrame, metrics: dict[str, Column], name: str):
    """``df`` eagerly checkpointed, plus ``metrics`` over its rows read from
    that same checkpoint job (``(checkpointed_df, metrics_dict)``).  A
    metric over zero rows may be absent from the dict (e.g. a null
    ``bit_xor``)."""
    observed, obs = observe_audit(df, metrics, name)
    return observed.localCheckpoint(eager=True), obs.get


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(id, label) with label = min vertex id reachable in the undirected
    graph; singletons keep their own id.

    ``edges``: (src, dst) one row per undirected edge (either orientation).
    ``vertices``: (id) — every node, including isolated ones.
    ``stats``: optional dict; on return ``stats["iterations"]`` holds the
    executed round count (observability for the convergence tests).

    Each round rewires edges toward per-neighborhood minima:

    - **large-star**: for every node u with m = min(N(u) ∪ {u}), replace
      each edge to a LARGER neighbor v > u with (v, m) — big nodes shortcut
      to their neighborhood's min.
    - **small-star**: orient edges (u > v); with m = min(N(u) ∪ {u}),
      point every smaller neighbor AND u itself at m — flattens local
      chains into stars.

    The composition strictly shrinks a potential function until the graph
    is a forest of depth-1 stars rooted at each component's min id —
    provably O(log diameter) rounds, vs O(diameter) for one-hop label
    propagation.  Every step is edge-keyed groupBy/join (shuffle on node
    id, same key every round).  The convergence test compares the
    fingerprint (count, xor-of-hashes) of consecutive canonical edge sets —
    robust to row order — observed on each round's checkpoint, so the
    checkpoint is the round's only action and the driver sees two scalars.
    """

    def checkpoint(e: DataFrame) -> tuple[DataFrame, tuple]:
        cur, m = _checkpoint_observed(
            e,
            {
                "n": F.count(F.lit(1)),
                # bit_xor: order-independent and can't overflow under ANSI
                # mode (a 64-bit SUM of hashes can)
                "h": F.bit_xor(F.xxhash64("src", "dst")),
            },
            "cc_fingerprint",
        )
        return cur, (m["n"], m.get("h"))

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        # no distinct here (r12): small_star's min is multiset-invariant and
        # its final distinct dedups the round output, so deduping large-star
        # edges only paid an extra full shuffle per round.  Multiplicity is
        # bounded — each canonical edge contributes exactly one (dst > src)
        # sym row, so duplicates arise only when distinct edges re-point to
        # the same (v, m) pair.  (The groupBy/join form is kept over a
        # window: joins get AQE skew splitting on hot hub nodes, windows
        # don't.)
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))  # only larger neighbors re-point
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e is (hi, lo)-oriented from large_star's construction
        mins = e.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
        joined = e.join(mins, "src")
        re_pointed = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        self_edge = mins.select("src", F.col("m").alias("dst"))
        return (
            re_pointed.union(self_edge)
            .filter(F.col("src") != F.col("dst"))
            .select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
            .distinct()
        )

    cur, fp = checkpoint(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )
    converged = False
    for it in range(max_iter):
        cur, nfp = checkpoint(small_star(large_star(cur)))
        if nfp == fp:
            converged = True
            if stats is not None:
                stats["iterations"] = it + 1
            break
        fp = nfp
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")

    # fixpoint edges are (node, root) stars; roots label themselves
    labels = (
        cur.select(F.col("src").alias("id"), F.col("dst").alias("label"))
        .union(cur.select(F.col("dst").alias("id"), F.col("dst").alias("label")))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    return vertices.join(labels, "id", "left").select(
        "id", F.coalesce("label", F.col("id")).alias("label")
    )


_TRIANGLE_ORACLE = f"""
WITH {_JACCARD_CTES},
e AS (SELECT doc_a AS a, doc_b AS b FROM jpairs)
SELECT e1.a AS doc_a, e1.b AS doc_b, e2.b AS doc_c
FROM e e1
JOIN e e2 ON e1.b = e2.a
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@register("neardup_triangles", oracle=_TRIANGLE_ORACLE, tags=("datapipe", "dedup", "graph"))
def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the near-dup pair graph — the density
    signal that separates true duplicate CLIQUES (template families, mirror
    sites: every pair similar) from accidental CHAINS (a~b~c where a̸~c),
    which connected components alone cannot distinguish.

    Standard distributed triangle join: with edges oriented (a < b), a
    wedge join (e1.b = e2.a) proposes a<b<c paths and one closing join
    checks (a, c).  Each join keys on a vertex id — ordinary hash
    exchanges; orientation alone bounds wedge fan-out by out-degree, and
    at web scale you additionally re-orient edges by (degree, id) so every
    vertex's out-degree is O(√|E|) (the classic MR triangle-count bound) —
    same plan, different orientation rule.  Output rows are the triangles
    themselves (doc_a < doc_b < doc_c).

    Consumes the STAGED pair set (``datapipe.stage.staged_jaccard_pairs``):
    detection runs once, graph analytics read its output."""
    from .stage import staged_jaccard_pairs

    pairs = staged_jaccard_pairs(spark, sf_dir)
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(
            F.col("e1.a").alias("doc_a"),
            F.col("e1.b").alias("doc_b"),
            F.col("e2.b").alias("doc_c"),
        )
    )


_CC_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL
  SELECT doc_b, doc_a FROM jpairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
),
assign AS (
  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM assign
"""


_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL
  SELECT doc_b, doc_a FROM jpairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
),
assign AS (
  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
),
qfeats AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(toks, x -> list_contains({{STOPWORDS}}, x))) AS INTEGER) AS n_stop,
         CAST(length(text) AS INTEGER) AS n_chars
  FROM t JOIN documents USING (doc_id)
),
qscored AS (
  SELECT doc_id,
         ((({{W0}} + {{W1}} * CAST(n_tokens AS DOUBLE))
            + {{W2}} * (CAST(n_stop AS DOUBLE) / n_tokens))
            + {{W3}} * (CAST(n_chars AS DOUBLE) / n_tokens)) AS score
  FROM qfeats
),
ranked AS (
  SELECT a.cluster_id, a.doc_id, s.score,
         ROW_NUMBER() OVER (PARTITION BY a.cluster_id ORDER BY s.score DESC, a.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY a.cluster_id) AS cluster_size
  FROM assign a JOIN qscored s USING (doc_id)
)
SELECT cluster_id, doc_id AS rep_doc_id, score AS rep_score, cluster_size
FROM ranked WHERE rn = 1
"""


def _fill_keep_best_oracle() -> str:
    from .textstats import QUALITY_WEIGHTS, STOPWORDS

    w0, w1, w2, w3 = QUALITY_WEIGHTS
    return _KEEP_BEST_ORACLE.format(
        STOPWORDS=repr(list(STOPWORDS)), W0=w0, W1=w1, W2=w2, W3=w3
    )


@register("dedup_keep_best_in_cluster", oracle=_fill_keep_best_oracle(), tags=("datapipe", "dedup", "pipeline"))
def q_keep_best_in_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup LAST MILE, composed end-to-end: near-dup pairs → connected
    components → per-cluster survivor chosen by QUALITY, not by min doc_id
    — real pipelines keep the best copy of a duplicate family (longest /
    cleanest), and min-id is only the label convention, not the keep rule.

    Tie policy pinned (score desc, doc_id asc).  Plan: the CC fixpoint
    (iterative, documented in ``connected_components``) feeds one
    broadcast-sized label frame; the quality score joins on doc_id and one
    cluster-keyed window picks survivors — each stage reuses operators that
    are independently oracle-verified (`neardup_connected_components`,
    `quality_model_score`), and the composition itself is checked against
    the recursive-SQL + argmax oracle registered at module level."""
    from .textstats import _quality_score_frame

    assign = q_neardup_cc(spark, sf_dir).select("doc_id", "cluster_id", "cluster_size")
    scored = _quality_score_frame(spark, sf_dir).select("doc_id", "score")
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        assign.join(scored, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("score").alias("rep_score"),
            "cluster_size",
        )
    )


@register("neardup_connected_components", oracle=_CC_ORACLE, tags=("datapipe", "dedup", "iterative"))
def q_neardup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse exact-Jaccard near-dup pairs into duplicate clusters: every
    document mapped to its component's min doc_id (the canonical survivor)
    plus the component size.  Downstream keeps ``doc_id == cluster_id`` rows
    (one representative per cluster) — the step that turns pair detection
    into an actual dedup of the corpus.

    Consumes the STAGED pair set (``datapipe.stage.staged_jaccard_pairs``):
    detection runs once, clustering reads its output."""
    from .stage import staged_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = staged_jaccard_pairs(spark, sf_dir)
    assign = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        docs.select(F.col("doc_id").alias("id")),
    )
    from pyspark.sql import Window

    return assign.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("cluster_size"),
    )


# --- BFS hop distance --------------------------------------------------------

BFS_MAX_HOPS = 6
BFS_SEED_MOD = 10  # seeds = documents with doc_id % BFS_SEED_MOD == 0

_HOP_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL
  SELECT doc_b, doc_a FROM jpairs
),
walk(node, hop) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % {BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, w.hop + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hop < {BFS_MAX_HOPS}
)
SELECT node AS doc_id, CAST(MIN(hop) AS BIGINT) AS hop
FROM walk GROUP BY node
"""


def bfs_hop_distance(edges: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """Distributed BFS: minimum hop count from any seed, frontier-at-a-time.

    ``edges`` is (src, dst) DIRECTED (pass both orientations for an
    undirected graph); ``seeds`` is a one-column (doc_id) frame.  Each round
    expands only the FRONTIER (nodes first reached last round) — visited
    nodes are anti-joined away, so total work is O(|E reachable|) across all
    rounds, not O(|E| · rounds).  Each frontier is checkpointed with its
    row count observed on that same action (the CC loop's rule: one action
    per round), and ``dist`` is the union of checkpointed frontiers, so its
    lineage stays flat without a checkpoint of its own.  This is the
    iterative-frontier shape Pregel/GraphX express — here as plain
    DataFrame joins so Catalyst handles the physical plan."""
    dist = seeds.select("doc_id").distinct().withColumn("hop", F.lit(0)).localCheckpoint(eager=True)
    frontier = dist.select("doc_id")
    for h in range(1, max_hops + 1):
        nxt, m = _checkpoint_observed(
            frontier.join(edges, frontier["doc_id"] == edges["src"])
            .select(F.col("dst").alias("doc_id"))
            .distinct()
            .join(dist.select("doc_id"), "doc_id", "left_anti")
            .withColumn("hop", F.lit(h)),
            {"n": F.count(F.lit(1))},
            "bfs_frontier",
        )
        if m["n"] == 0:
            break
        dist = dist.union(nxt)
        frontier = nxt.select("doc_id")
    return dist


@register("neardup_hop_distance", oracle=_HOP_ORACLE, tags=("datapipe", "graph", "iterative", "r5"))
def q_neardup_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the near-dup graph: every document's minimum
    hop distance (≤ {BFS_MAX_HOPS}) from the seed set (doc_id divisible by
    {BFS_SEED_MOD}) — the recursive-CTE workload class (reachability with
    path length), expressed as frontier iteration.  Contamination radius is
    the practical use: seeds = documents matching a benchmark, hops =
    how far their near-duplicate influence spreads through the corpus.

    The DuckDB oracle is literally ``WITH RECURSIVE`` with the same hop cap,
    so the differential check proves the frontier loop ≡ the declarative
    fixpoint — including min-hop semantics (UNION-distinct state dedup) and
    unreached-node exclusion.  Consumes the STAGED pair set: detection runs
    once, graph analytics read its output."""
    from .stage import staged_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = staged_jaccard_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    seeds = docs.filter(F.col("doc_id") % BFS_SEED_MOD == 0).select("doc_id")
    dist = bfs_hop_distance(edges, seeds, BFS_MAX_HOPS)
    return dist.select("doc_id", F.col("hop").cast("long").alias("hop"))


# --- recursive CTE on Spark: bounded path counting ----------------------------

PATH_MAX_LEN = 3

_ASC_PATHS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
paths(origin, node, len) AS (
  SELECT doc_a, doc_b, 1 FROM jpairs
  UNION ALL
  SELECT p.origin, e.doc_b, p.len + 1
  FROM paths p JOIN jpairs e ON e.doc_a = p.node
  WHERE p.len < {PATH_MAX_LEN}
)
SELECT len, CAST(COUNT(*) AS BIGINT) AS n_paths FROM paths GROUP BY len
"""


@register("neardup_ascending_paths", oracle=_ASC_PATHS_ORACLE, tags=("datapipe", "graph", "sql", "r7"))
def q_neardup_ascending_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts of ascending-id paths of length 1..{PATH_MAX_LEN} through the
    near-dup graph — executed as a RECURSIVE CTE *on Spark itself*
    (``WITH RECURSIVE``, new SQL surface in Spark 4): the one declarative
    recursion the engine now shares with the oracle dialect, so one SQL
    text runs on both engines (the ``lateral`` / star-join demos' rule).
    Length-2 path counts relate directly to ``neardup_triangles`` (every
    triangle closes a length-2 path); densely duplicated clusters show up
    as super-linear path growth with length.

    Recursion safety: Spark supports only UNION ALL recursion (no
    UNION-dedup fixpoint), which diverges on cyclic graphs — so the walk
    runs on the ASCENDING-ID orientation (doc_a < doc_b by construction),
    a DAG, with the depth cap as a second bound; path *multiplicity* is
    exactly the statistic being computed, so UNION ALL semantics are the
    point, not a workaround.  BFS/min-hop semantics (which need the dedup
    the engine lacks) stay with the frontier loop in ``bfs_hop_distance``.
    Consumes the STAGED pair set via a temp view; work is bounded by
    Σ paths ≤ |pairs| · max-outdegree^{PATH_MAX_LEN - 1}."""
    from .stage import staged_jaccard_pairs

    staged_jaccard_pairs(spark, sf_dir).createOrReplaceTempView("neardup_pairs_v")
    return spark.sql(f"""
      WITH RECURSIVE paths(origin, node, len) AS (
        SELECT doc_a, doc_b, 1 FROM neardup_pairs_v
        UNION ALL
        SELECT p.origin, e.doc_b, p.len + 1
        FROM paths p JOIN neardup_pairs_v e ON e.doc_a = p.node
        WHERE p.len < {PATH_MAX_LEN}
      )
      SELECT len, CAST(COUNT(*) AS BIGINT) AS n_paths FROM paths GROUP BY len
    """)


# --- dedup savings accounting ----------------------------------------------------

_DEDUP_SAVINGS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL
  SELECT doc_b, doc_a FROM jpairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
),
assign AS (
  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
),
acct AS (
  SELECT d.source, a.doc_id, a.cluster_id, CAST(len(t.toks) AS BIGINT) AS n_toks
  FROM assign a JOIN documents d USING (doc_id) JOIN t USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removable_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN doc_id <> cluster_id THEN n_toks ELSE 0 END) AS BIGINT) AS removable_tokens,
       ROUND(CAST(SUM(CASE WHEN doc_id <> cluster_id THEN n_toks ELSE 0 END) AS DOUBLE)
             / SUM(n_toks), 9) AS removable_token_share
FROM acct GROUP BY source
"""


@register(
    "dedup_savings_by_source",
    oracle=_DEDUP_SAVINGS_ORACLE,
    tags=("datapipe", "dedup", "audit", "r11"),
)
def q_dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report: per source, how many documents and tokens the
    near-dup clustering would REMOVE (every cluster member except the
    canonical min-id representative) — the before/after accounting a
    curation run publishes to justify the dedup stage's cost, and the
    number storage/compute sizing reads ("dedup cuts source X by 14%").
    Removable work is attributed to the REMOVED document's source (a
    cluster can span sources — mirror-site families — and it's the copy
    you delete whose source shrinks).

    Complements, not duplicates, the neighbors: ``neardup_source_matrix``
    counts PAIRS by source pair (mirror detection), the datasheet reports
    substring-SPAN exposure, ``dedup_keep_best_in_cluster`` picks the
    survivor — this is the volume-savings rollup of the cluster view.

    Plan: the CC fixpoint's (doc_id, cluster_id) frame joined once to the
    staged per-doc (source, token-count) projection, collapsed by ONE
    |sources|-keyed aggregation.  Exact int64 counts; one division per
    source row."""
    from .stage import staged_features

    assign = q_neardup_cc(spark, sf_dir).select("doc_id", "cluster_id")
    feat = staged_features(spark, sf_dir).select(
        "doc_id", "source", F.size("toks").cast("long").alias("n_toks")
    )
    dup = F.col("doc_id") != F.col("cluster_id")
    return (
        assign.join(feat, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_removable_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum(F.when(dup, F.col("n_toks")).otherwise(0)).cast("long").alias("removable_tokens"),
            F.round(
                F.sum(F.when(dup, F.col("n_toks")).otherwise(0)).cast("double")
                / F.sum("n_toks"),
                9,
            ).alias("removable_token_share"),
        )
    )
