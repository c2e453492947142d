"""Corpus hygiene operators for LLM training-data pipelines: PII scrubbing,
intra-document repetition scoring, benchmark-contamination detection, and
token-budget sequence packing.

No reference counterpart (SURVEY.md §2.9 extension tier).  Everything here
is JVM-side ``pyspark.sql.functions`` — regexes, array ops, window sums —
inside whole-stage codegen, with each query's exact semantics mirrored in a
DuckDB oracle.  All four are per-row or single-shuffle shapes that hold at
100 TB:

- ``pii_scrub_docs``: per-row regexp chain, zero shuffles.
- ``doc_repetition_score``: per-row array stats (Gopher-style repetition
  quality gate), zero shuffles.
- ``contamination_overlap``: shingle-keyed join where the benchmark side is
  orders of magnitude smaller than the training corpus → broadcast; cost is
  one pass over training shingles.
- ``pack_training_sequences``: concat-and-chunk packing as a running token
  sum windowed PER SOURCE SHARD — each partition's window is independent,
  so the plan is one hash exchange on ``source``, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.skew import keyed_running_sum
from ..functions.text import normalize_text, shingles_col, tokens_col
from ..registry import register
from ..sources import load_table

# --- PII scrubbing ----------------------------------------------------------

#: RE2-and-Java-compatible patterns (both engines must match identically)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d{3}[- ]\d{2,4}[- ]\d{2,4}"


def scrub_pii(col, email_token: str = "<EMAIL>", phone_token: str = "<PHONE>"):
    """Redact emails then phone-shaped digit runs (order matters: emails can
    contain digits).  Pure expression — usable on any string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, EMAIL_RE, email_token), PHONE_RE, phone_token)


_PII_ORACLE = """
WITH raw AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +555-01' || CAST(doc_id % 100 AS VARCHAR)
              || '-9876 today' AS raw_text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(raw_text,
                                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                      '\\+?\\d{3}[- ]\\d{2,4}[- ]\\d{2,4}', '<PHONE>', 'g') AS clean_text,
       regexp_matches(raw_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS had_email,
       regexp_matches(raw_text, '\\+?\\d{3}[- ]\\d{2,4}[- ]\\d{2,4}') AS had_phone
FROM raw
"""


@register("pii_scrub_docs", oracle=_PII_ORACLE, tags=("datapipe", "scrub"))
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus.  The synthetic corpus carries no real
    PII, so the query first appends deterministic doc-derived email/phone
    strings — proving (differentially, against the oracle) that the redaction
    actually fires — then scrubs them.  Per-row regexp chain: zero shuffles,
    scales embarrassingly."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +555-01"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("-9876 today"),
        ).alias("raw_text"),
    )
    return raw.select(
        "doc_id",
        scrub_pii("raw_text").alias("clean_text"),
        F.col("raw_text").rlike(EMAIL_RE).alias("had_email"),
        F.col("raw_text").rlike(PHONE_RE).alias("had_phone"),
    )


# --- intra-document repetition (quality gate) -------------------------------

REPETITION_MAX_DUP_FRAC = 0.2  # Gopher-style gate: >20% duplicate bigrams → drop


_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks), 1)), i -> toks[i] || ' ' || toks[i+1]) AS grams
  FROM t WHERE len(toks) >= 2
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_bigrams,
       CAST(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS DOUBLE) AS dup_frac,
       (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) <= {REPETITION_MAX_DUP_FRAC} AS keep
FROM g
"""


@register("doc_repetition_score", oracle=_REPETITION_ORACLE, tags=("datapipe", "scrub", "quality"))
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram fraction per document — the repetition quality gate
    (heavily repeated n-grams mark low-quality/generated text; cf. the
    repetition filters in Gopher/MassiveText-style curation).  Entirely
    per-row array math (no explode, no shuffle): ``1 −
    |distinct bigrams| / |bigrams|``, plus the keep/drop verdict."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens_col("text").alias("toks")).filter(F.size("toks") >= 2)
    grams = toked.select("doc_id", shingles_col("toks", 2).alias("grams"))
    dup_frac = (
        F.lit(1.0)
        - F.size(F.array_distinct("grams")).cast("double") / F.size("grams")
    )
    return grams.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_bigrams"),
        dup_frac.cast("double").alias("dup_frac"),
        (dup_frac <= REPETITION_MAX_DUP_FRAC).alias("keep"),
    )


# --- blocklist term screen ----------------------------------------------------

#: the C4-style "bad words" list, reduced to terms the synthetic vocabulary
#: actually contains ("dup" is rare, "slow" common — so the gate splits the
#: corpus non-trivially in both directions)
BLOCKLIST = ("dup", "slow")
BLOCKLIST_MAX_SHARE = 0.02  # RefinedWeb-style fraction gate, not C4's any-hit


_BLOCKLIST_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(toks, x -> list_contains({list(BLOCKLIST)!r}, x))) AS BIGINT) AS n_blocked,
       ROUND(CAST(len(list_filter(toks, x -> list_contains({list(BLOCKLIST)!r}, x))) AS DOUBLE)
             / len(toks), 9) AS blocked_share,
       (CAST(len(list_filter(toks, x -> list_contains({list(BLOCKLIST)!r}, x))) AS DOUBLE)
        / len(toks)) <= {BLOCKLIST_MAX_SHARE} AS keep
FROM t
"""


@register("blocklist_screen_docs", oracle=_BLOCKLIST_ORACLE, tags=("datapipe", "scrub", "quality", "r11"))
def q_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist term screen — the C4 "bad words" stage generalized to a
    share threshold (RefinedWeb-style): per document, the blocklist hit
    count, the hit share of all tokens, and the keep verdict
    (share ≤ {BLOCKLIST_MAX_SHARE}).  A share gate beats C4's any-hit drop
    for long documents where one incidental term would discard an entire
    good document; set the threshold to 0 to recover exact C4 semantics.

    Entirely per-row array math over one scan (no explode, no shuffle —
    same shape as the repetition gate); at 100 TB a real blocklist
    (thousands of terms) ships as a broadcast set and the filter becomes
    one array_intersect against it, same plan.  Exactness: integer counts,
    one division, and a share-vs-literal comparison identical on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    block_arr = F.array(*[F.lit(t) for t in BLOCKLIST])
    toked = docs.select("doc_id", tokens_col("text").alias("toks"))
    n_blocked = F.size(F.filter("toks", lambda x: F.array_contains(block_arr, x)))
    share = n_blocked.cast("double") / F.size("toks")
    return toked.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        n_blocked.cast("long").alias("n_blocked"),
        F.round(share, 9).alias("blocked_share"),
        (share <= BLOCKLIST_MAX_SHARE).alias("keep"),
    )


# --- benchmark contamination ------------------------------------------------

CONTAMINATION_MIN_COMMON = 3  # shared 3-gram shingles to flag an overlap
_EVAL_MOD = 97  # deterministic stand-in eval split: doc_id % 97 == 0


_CONTAMINATION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM t WHERE len(toks) >= 3
)
SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id,
       COUNT(*) AS n_common
FROM (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} <> 0) tr
JOIN (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} = 0) ev ON tr.shingle = ev.shingle
GROUP BY 1, 2
HAVING COUNT(*) >= {CONTAMINATION_MIN_COMMON}
"""


def contamination_pairs(
    train_sh: DataFrame, eval_sh: DataFrame, min_common: int = CONTAMINATION_MIN_COMMON
) -> DataFrame:
    """(train_doc_id, eval_doc_id, n_common) for doc pairs sharing ≥
    ``min_common`` shingles.  The eval side (benchmarks) is tiny next to a
    training corpus → broadcast; the train side streams through in one pass
    keyed by shingle.  This is the train/test-overlap decontamination sweep
    every serious pretraining pipeline runs before training."""
    ev = F.broadcast(eval_sh.select(F.col("doc_id").alias("eval_doc_id"), "shingle"))
    return (
        train_sh.select(F.col("doc_id").alias("train_doc_id"), "shingle")
        .join(ev, "shingle")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


@register("contamination_overlap", oracle=_CONTAMINATION_ORACLE, tags=("datapipe", "scrub"))
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stage import staged_shingles

    # staged shingle frame feeds both splits (tokenize/shingle ran once, at
    # stage-build; see datapipe.stage — both splits re-read the staged
    # parquet rather than persist()ing a leaked in-memory copy)
    sh = staged_shingles(spark, sf_dir)
    return contamination_pairs(
        sh.filter(F.col("doc_id") % _EVAL_MOD != 0),
        sh.filter(F.col("doc_id") % _EVAL_MOD == 0),
    )


# --- per-source quota sampling ----------------------------------------------

SOURCE_QUOTA = 20  # max documents kept per source


_QUOTA_ORACLE = f"""
SELECT doc_id, source, CAST(rn AS BIGINT) AS rank_in_source
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {SOURCE_QUOTA}
"""


@register("source_quota_sample", oracle=_QUOTA_ORACLE, tags=("datapipe", "scrub", "sampling"))
def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota — the domain-balancing cap every web-scale
    curation pipeline applies (CommonCrawl-style: no single domain may
    contribute more than N documents).  Selection is by *hash order*
    (``md5(doc_id)``, doc_id tiebreak), so the kept subset is deterministic
    across runs, engines, and partitionings — same reproducibility contract
    as ``stratified_hash_sample`` — and uniformly random w.r.t. any content
    property.

    Scale shape: because the ROW_NUMBER is immediately filtered to
    ``rank ≤ quota``, Catalyst inserts a PARTIAL ``WindowGroupLimit`` BEFORE
    the exchange (pinned in ``test_plans.py``): every map task keeps only a
    top-``quota`` heap per source, so the shuffle carries ≤ quota × |map
    partitions| rows per source and the per-source final task is tiny — the
    full corpus never funnels through a |sources|-bounded window, unlike an
    unlimited rank (those go through ``keyed_row_number``, see
    ``preference_pairs_by_source``)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rank_in_source"))
        .filter(F.col("rank_in_source") <= SOURCE_QUOTA)
        .select("doc_id", "source", F.col("rank_in_source").cast("long").alias("rank_in_source"))
    )


# --- sequence packing -------------------------------------------------------

PACK_TOKEN_BUDGET = 256  # tokens per packed training sequence


def pack_sequences(t: DataFrame) -> DataFrame:
    """Concat-and-chunk packing of (doc_id, source, n_tokens) rows: each
    source's documents laid end-to-end in doc_id order and cut every
    ``PACK_TOKEN_BUDGET`` tokens.  Adds ``first_seq``/``last_seq`` (the
    sequences the document spans) and ``seq_offset`` (its start inside
    ``first_seq``); the per-source running sum is
    ``functions.skew.keyed_running_sum``."""
    c = keyed_running_sum(t, ["source"], ["doc_id"], "n_tokens", "cum")
    budget = PACK_TOKEN_BUDGET
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / budget).cast("long").alias("first_seq"),
        F.floor((F.col("cum") - 1) / budget).cast("long").alias("last_seq"),
        ((F.col("cum") - F.col("n_tokens")) % budget).cast("long").alias("seq_offset"),
    )


_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(floor((cum - n_tokens) / {PACK_TOKEN_BUDGET}) AS BIGINT) AS first_seq,
       CAST(floor((cum - 1) / {PACK_TOKEN_BUDGET}) AS BIGINT) AS last_seq,
       CAST((cum - n_tokens) % {PACK_TOKEN_BUDGET} AS BIGINT) AS seq_offset
FROM c
"""


@register("pack_training_sequences", oracle=_PACK_ORACLE, tags=("datapipe", "scrub", "packing"))
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end in
    deterministic (source, doc_id) order and cut every ``PACK_TOKEN_BUDGET``
    tokens — exactly how pretraining batches are formed (documents may
    straddle a cut; ``first_seq``/``last_seq`` delimit the span, and
    ``seq_offset`` is the document's start position inside its first
    sequence).

    Scale shape (round-6 verdict item 2): the per-source running sum goes
    through ``functions.skew.keyed_running_sum`` — partition ids by ranges
    of (source, doc_id) so one source's stream spans MANY partitions,
    prefix-sum the tiny per-(partition, source) totals into broadcast
    offsets, then partition-local cumulative sums.  Parallelism scales with
    the data, not with |sources| (the old ``Window.partitionBy("source")``
    funneled each source's ENTIRE corpus through one task).  Values are
    bit-identical: integer sum algebra is order-free, so the cut positions
    don't depend on where the sampled range boundaries land."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs.select("doc_id", "source", F.size(tokens_col("text")).cast("long").alias("n_tokens"))
    )


# --- T5-style span corruption -------------------------------------------------

#: span-corruption mask rule: token position p is masked iff p % SPAN_PERIOD
#: lands inside [SPAN_OFFSET, SPAN_OFFSET + SPAN_LEN) — a 3-token span every
#: 10 tokens = the ~15% corruption rate of Raffel et al. 2020, made
#: positional so both engines (and the pytest round-trip) derive the same
#: mask with no shared RNG.  Production would swap the rule for
#: xxhash64(doc_id, span_id)-seeded sampling; the reassembly plan is
#: identical.
SPAN_PERIOD = 10
SPAN_OFFSET = 2
SPAN_LEN = 3

_SPAN_CORRUPT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), tok AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
), m AS (
  SELECT doc_id, pos, tok, pos // {SPAN_PERIOD} AS span_id,
         (pos % {SPAN_PERIOD}) >= {SPAN_OFFSET} AND (pos % {SPAN_PERIOD}) < {SPAN_OFFSET + SPAN_LEN} AS masked
  FROM tok
), spans AS (
  SELECT doc_id, span_id, MIN(pos) AS span_start,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_id) - 1 AS k,
         string_agg(tok, ' ' ORDER BY pos) AS span_text
  FROM m WHERE masked GROUP BY doc_id, span_id
), pieces AS (
  SELECT doc_id, pos, tok AS piece FROM m WHERE NOT masked
  UNION ALL
  SELECT doc_id, span_start AS pos, '<extra_id_' || CAST(k AS VARCHAR) || '>' FROM spans
), inp AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY pos) AS input_text FROM pieces GROUP BY 1
), tgt AS (
  SELECT doc_id,
         string_agg('<extra_id_' || CAST(k AS VARCHAR) || '> ' || span_text, ' ' ORDER BY k)
           AS target_text
  FROM spans GROUP BY 1
)
SELECT t.doc_id, i.input_text, COALESCE(g.target_text, '') AS target_text
FROM toks t
JOIN inp i USING (doc_id)
LEFT JOIN tgt g USING (doc_id)
"""


@register("span_corruption_examples", oracle=_SPAN_CORRUPT_ORACLE, tags=("datapipe", "scrub", "text", "r7"))
def q_span_corruption_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption training pairs (Raffel et al. 2020 §3.1.4): mask
    3-token spans at a fixed period, replace each in the input with a
    sentinel ``<extra_id_K>`` (K densely numbered left-to-right per doc),
    and emit the target as the sentinel-prefixed masked spans in order.
    Docs too short to hit a mask position pass through with an empty
    target.  The round-trip (interleave target spans back into input)
    reconstructs the normalized document exactly — pinned in
    ``tests/test_r7_ops.py``.

    Plan: explode to (doc, pos, token) once; masked spans aggregate to
    (span_start, span_text) with a per-doc ``row_number`` for dense sentinel
    numbering; input reassembles by unioning unmasked tokens with sentinel
    rows and sorting on position INSIDE an aggregate (``array_sort`` of
    (pos, piece) structs — no global sort, no window over the token table).
    Two shuffles on doc_id, both combiner-friendly.  At 100 TB this is the
    same per-doc-bounded shape as ``pack_training_sequences``: state scales
    with document length, never corpus size."""
    from .stage import staged_features

    feat = staged_features(spark, sf_dir)
    tok = feat.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    m = tok.select(
        "doc_id",
        "pos",
        "tok",
        F.floor(F.col("pos") / SPAN_PERIOD).alias("span_id"),
        (
            ((F.col("pos") % SPAN_PERIOD) >= SPAN_OFFSET)
            & ((F.col("pos") % SPAN_PERIOD) < SPAN_OFFSET + SPAN_LEN)
        ).alias("masked"),
    )
    ordered_text = F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "piece"))), lambda x: x.piece),
        " ",
    )
    spans = (
        m.filter(F.col("masked"))
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", F.col("tok").alias("piece")))),
                    lambda x: x.piece,
                ),
                " ",
            ).alias("span_text"),
        )
        .withColumn(
            "k",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("span_id")) - F.lit(1),
        )
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">"))
    pieces = (
        m.filter(~F.col("masked")).select("doc_id", "pos", F.col("tok").alias("piece"))
    ).unionByName(
        spans.select("doc_id", F.col("span_start").alias("pos"), sentinel.alias("piece"))
    )
    inp = pieces.groupBy("doc_id").agg(ordered_text.alias("input_text"))
    tgt = spans.select(
        "doc_id", F.col("k").alias("pos"), F.concat(sentinel, F.lit(" "), F.col("span_text")).alias("piece")
    ).groupBy("doc_id").agg(ordered_text.alias("target_text"))
    return (
        inp.join(tgt, "doc_id", "left")
        .select("doc_id", "input_text", F.coalesce("target_text", F.lit("")).alias("target_text"))
    )


# --- FIM (fill-in-the-middle) transform -------------------------------------------

#: PSM sentinel tokens (Bavarian et al. 2022, "Efficient Training of
#: Language Models to Fill in the Middle"); deterministic third-point
#: pivots replace the paper's uniform split sampling so both engines (and
#: the pytest round-trip) derive identical examples with no shared RNG —
#: the same determinism trade documented for span corruption above.
FIM_PRE = "<fim_prefix>"
FIM_SUF = "<fim_suffix>"
FIM_MID = "<fim_middle>"

_FIM_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), cut AS (
  SELECT doc_id, toks, len(toks) AS n,
         len(toks) // 3 AS p1, (2 * len(toks)) // 3 AS p2
  FROM t
)
SELECT doc_id,
       concat_ws(' ', '{FIM_PRE}', array_to_string(list_slice(toks, 1, p1), ' '),
                      '{FIM_SUF}', array_to_string(list_slice(toks, p2 + 1, n), ' '),
                      '{FIM_MID}', array_to_string(list_slice(toks, p1 + 1, p2), ' '))
         AS fim_text,
       CAST(p1 AS BIGINT) AS n_prefix,
       CAST(p2 - p1 AS BIGINT) AS n_middle,
       CAST(n - p2 AS BIGINT) AS n_suffix
FROM cut
"""


@register("fim_transform_examples", oracle=_FIM_ORACLE, tags=("datapipe", "scrub", "text", "r12"))
def q_fim_transform_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training examples in PSM order (Bavarian et al.
    2022): each document splits at deterministic third-points into
    (prefix, middle, suffix) and re-serializes as ``{FIM_PRE} prefix
    {FIM_SUF} suffix {FIM_MID} middle`` — the document-level transform
    that teaches causal LMs to infill, run over the whole corpus as a data
    pass exactly like ``span_corruption_examples`` (its span-level T5
    sibling).  Sub-3-token documents degrade gracefully (empty pieces keep
    their sentinels, byte-identically on both engines).

    Plan: ONE stateless projection over the corpus scan — tokenize, two
    integer pivots, three in-row array slices, one concat; no shuffle, no
    window, no join.  The 100 TB cost is the scan itself."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n = F.size(toks)
    p1 = F.floor(n / 3).cast("int")
    p2 = F.floor(n * 2 / 3).cast("int")
    piece = lambda start, length: F.array_join(F.slice(toks, start, length), " ")  # noqa: E731
    return docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.lit(FIM_PRE), piece(F.lit(1), p1),
            F.lit(FIM_SUF), piece(p2 + 1, n - p2),
            F.lit(FIM_MID), piece(p1 + 1, p2 - p1),
        ).alias("fim_text"),
        p1.cast("long").alias("n_prefix"),
        (p2 - p1).cast("long").alias("n_middle"),
        (n - p2).cast("long").alias("n_suffix"),
    )


# --- text normalization audit ---------------------------------------------------

_TEXT_NORM_ORACLE = """
WITH per_doc AS (
  SELECT source,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]', '', 'g')) AS ws_chars,
         CASE WHEN regexp_matches(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]') THEN 1 ELSE 0 END AS has_control,
         CASE WHEN regexp_matches(text, '[^\\x00-\\x7F]') THEN 1 ELSE 0 END AS has_non_ascii,
         CASE WHEN text LIKE '%  %' THEN 1 ELSE 0 END AS has_double_space,
         CASE WHEN text <> trim(text) THEN 1 ELSE 0 END AS has_edge_ws
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(has_control) AS BIGINT) AS docs_control_chars,
       CAST(SUM(has_non_ascii) AS BIGINT) AS docs_non_ascii,
       CAST(SUM(has_double_space) AS BIGINT) AS docs_double_space,
       CAST(SUM(has_edge_ws) AS BIGINT) AS docs_edge_whitespace,
       CAST(SUM(ws_chars) AS DOUBLE) / SUM(n_chars) AS ws_char_ratio
FROM per_doc GROUP BY source
"""


@register("text_normalization_report", oracle=_TEXT_NORM_ORACLE, tags=("datapipe", "scrub", "dq", "text", "r7"))
def q_text_normalization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source text-hygiene audit — the screen run BEFORE normalization
    decides what cleaning a source needs: documents containing C0 control
    characters, non-ASCII bytes, doubled spaces, or leading/trailing
    whitespace, plus the corpus-level whitespace share of characters.

    Exactness discipline: every rate is derived from INTEGER sufficient
    sums with one final division (``SUM(ws_chars)/SUM(n_chars)``), never an
    ``avg`` over per-doc doubles — float summation order would differ
    between engines and partitionings.  Plan: stateless per-row regexes in
    whole-stage codegen, one shuffle on ``source`` (|sources|-bounded
    output).  At 100 TB this is a single pass that rides along any other
    corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    per = docs.select(
        "source",
        F.length(t).alias("n_chars"),
        # explicit class, NOT \s: Java's \s includes \x0B, RE2's excludes
        # it — on exactly the dirty input this audit exists to find, the
        # shorthand silently diverges between the engines
        (F.length(t) - F.length(F.regexp_replace(t, r"[\t\n\x0B\f\r ]", ""))).alias("ws_chars"),
        flag(t.rlike(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")).alias("has_control"),
        flag(t.rlike(r"[^\x00-\x7F]")).alias("has_non_ascii"),
        flag(t.contains("  ")).alias("has_double_space"),
        flag(t != F.trim(t)).alias("has_edge_ws"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("has_control").alias("docs_control_chars"),
        F.sum("has_non_ascii").alias("docs_non_ascii"),
        F.sum("has_double_space").alias("docs_double_space"),
        F.sum("has_edge_ws").alias("docs_edge_whitespace"),
        (F.sum("ws_chars").cast("double") / F.sum("n_chars")).alias("ws_char_ratio"),
    )
