"""End-to-end training-corpus curation: the composition the individual
datapipe operators exist for.

``prepare_training_corpus`` chains the standard LLM-data stages over the
documents table, entirely as one declarative plan (Catalyst fuses the
stages; nothing materializes between them):

1. **exact dedup** — md5 fingerprint of normalized text, keep the lowest
   doc_id per fingerprint (window min, one shuffle);
2. **language gate** — marker-word argmax (``textstats.LANG_MARKERS``),
   keep the target language;
3. **quality gate** — token-count band (synthetic fixture has no
   punctuation, so the punctuation/stopword gates from ``doc_quality``
   would be vacuous here; the band is the structural stand-in);
4. **token accounting** — whitespace + BPE-ish counts for the training
   manifest.

The output is the "train-ready manifest": one row per surviving document
with its accounting columns.  At 100 TB every stage is one scan + one
shuffle (the dedup window); the near-dup stages (`MinHash LSH
<dedup.py>`_) slot in after stage 1 as a candidate-pair join against the
manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.skew import global_running_sum, keyed_row_number
from ..functions.text import normalize_text, tokens_col
from ..registry import register
from ..sources import load_table
from .textstats import BPE_PATTERN, LANG_MARKERS, _lang_score_sql

TARGET_LANG = "en"
MIN_TOKENS = 20
MAX_TOKENS = 95


def featurize_documents(docs: DataFrame) -> DataFrame:
    """Per-document feature frame: ONE parquet scan and ONE tokenization
    pass feeding every curation stage.

    The multi-stage pipeline (dedup / lang-id / quality / repetition /
    contamination / packing) consumes tokens in several independent
    subtrees; Catalyst CSEs expressions *within* a projection but not
    *across* branches, so deriving each branch from raw ``docs`` would
    re-scan the table and re-run the regex tokenization once per branch.
    At 100 TB the repeated scan is the dominant cost — this frame is the
    thing to ``persist()`` (or checkpoint to a columnar staging table)
    before fanning out."""
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5(normalize_text("text")).alias("fingerprint"),
        tokens_col("text").alias("toks"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)).cast("int").alias("n_bpe_tokens"),
    )


def manifest_from_features(
    feat: DataFrame,
    target_lang: str = TARGET_LANG,
    min_tokens: int = MIN_TOKENS,
    max_tokens: int = MAX_TOKENS,
) -> DataFrame:
    """Dedup → language gate → quality band over a ``featurize_documents``
    frame.  Returns the train-ready manifest (token-array column dropped)."""
    langs = sorted(LANG_MARKERS)
    scored = feat.select(
        "doc_id",
        "lang",
        "source",
        "fingerprint",
        "n_bpe_tokens",
        F.size("toks").cast("int").alias("n_tokens"),
        *[
            F.size(
                F.array_intersect(
                    F.array_distinct("toks"), F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
                )
            )
            .cast("int")
            .alias(f"s_{lang}")
            for lang in langs
        ],
    )
    # stage 1: exact dedup — representative = lowest doc_id per fingerprint
    rep = F.min("doc_id").over(Window.partitionBy("fingerprint"))
    deduped = scored.withColumn("rep", rep).filter(F.col("doc_id") == F.col("rep"))
    # stage 2: language argmax with alphabetical tiebreak
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.when(F.col(f"s_{langs[0]}") >= best, langs[0])
    for lang in langs[1:]:
        pred = pred.when(F.col(f"s_{lang}") >= best, lang)
    gated = deduped.withColumn("predicted_lang", pred).filter(
        F.col("predicted_lang") == target_lang
    )
    # stage 3 + 4: quality band, manifest projection
    return gated.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens)
    ).select(
        "doc_id", "lang", "source", "predicted_lang", "fingerprint", "n_tokens", "n_bpe_tokens"
    )


def prepare_training_corpus(
    docs: DataFrame,
    target_lang: str = TARGET_LANG,
    min_tokens: int = MIN_TOKENS,
    max_tokens: int = MAX_TOKENS,
) -> DataFrame:
    """Dedup → language gate → quality band → token accounting (see module
    docstring).  Returns the train-ready manifest."""
    return manifest_from_features(
        featurize_documents(docs), target_lang, min_tokens, max_tokens
    ).select("doc_id", "lang", "predicted_lang", "fingerprint", "n_tokens", "n_bpe_tokens")


_CURATE_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, lang, text,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks,
         CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens
  FROM documents
), scored AS (
  SELECT doc_id, lang, fingerprint,
         CAST(len(toks) AS INTEGER) AS n_tokens, n_bpe_tokens,
         {", ".join(f"{_lang_score_sql(lang)} AS s_{lang}" for lang in sorted(LANG_MARKERS))},
         MIN(doc_id) OVER (PARTITION BY fingerprint) AS rep
  FROM feat
), gated AS (
  SELECT *,
         CASE
           {" ".join(f"WHEN s_{lang} >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN '{lang}'" for lang in sorted(LANG_MARKERS))}
         END AS predicted_lang
  FROM scored WHERE doc_id = rep
)
SELECT doc_id, lang, predicted_lang, fingerprint, n_tokens, n_bpe_tokens
FROM gated
WHERE predicted_lang = '{TARGET_LANG}'
  AND n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
"""


@register("curate_training_corpus", oracle=_CURATE_ORACLE, tags=("datapipe", "pipeline"))
def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stage import staged_features

    return manifest_from_features(staged_features(spark, sf_dir)).select(
        "doc_id", "lang", "predicted_lang", "fingerprint", "n_tokens", "n_bpe_tokens"
    )


# --- full pipeline: curation + hygiene + packing ----------------------------

_CURATE_PACK_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, lang, source, text,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, lang, source, fingerprint, toks,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         {", ".join(f"{_lang_score_sql(lang)} AS s_{lang}" for lang in sorted(LANG_MARKERS))},
         MIN(doc_id) OVER (PARTITION BY fingerprint) AS rep
  FROM feat
), manifest AS (
  SELECT doc_id, source, n_tokens,
         CASE
           {" ".join(f"WHEN s_{lang} >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN '{lang}'" for lang in sorted(LANG_MARKERS))}
         END AS predicted_lang
  FROM scored WHERE doc_id = rep
), grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks), 1)), i -> toks[i] || ' ' || toks[i+1]) AS grams
  FROM feat WHERE len(toks) >= 2
), repkeep AS (
  SELECT doc_id FROM grams
  WHERE (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) <= 0.2
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM feat WHERE len(toks) >= 3
), contaminated AS (
  SELECT DISTINCT train_doc_id AS doc_id FROM (
    SELECT tr.doc_id AS train_doc_id, ev.doc_id AS eval_doc_id, COUNT(*) AS n_common
    FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) tr
    JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) ev ON tr.shingle = ev.shingle
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
  )
), surv AS (
  SELECT m.doc_id, m.source, CAST(m.n_tokens AS BIGINT) AS n_tokens
  FROM manifest m
  JOIN repkeep r ON m.doc_id = r.doc_id
  WHERE m.predicted_lang = '{TARGET_LANG}'
    AND m.n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
    AND m.doc_id % 97 <> 0
    AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = m.doc_id)
), c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM surv
)
SELECT doc_id, source, n_tokens,
       CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS first_seq,
       CAST(floor((cum - 1) / 256) AS BIGINT) AS last_seq,
       CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
FROM c
"""


def _pack_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens) of the documents every curation gate
    keeps: exact dedup → language gate → token-count band
    (``manifest_from_features``) → repetition gate (``scrub``) → eval-split
    exclusion + contamination anti-join.

    The whole fan-out derives from ONE staged ``featurize_documents``
    frame (``datapipe.stage``): the manifest, the repetition gate, and both
    contamination shingle sides all read the same tokenized projection, so
    the text is scanned and tokenized exactly once no matter how many
    stages — or sibling queries — consume it."""
    from ..functions.text import shingles_col
    from .scrub import _EVAL_MOD, REPETITION_MAX_DUP_FRAC, contamination_pairs
    from .stage import staged_features, staged_shingles

    feat = staged_features(spark, sf_dir)
    manifest = manifest_from_features(feat).select(
        "doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens")
    )

    grams = feat.filter(F.size("toks") >= 2).select(
        "doc_id", shingles_col("toks", 2).alias("grams")
    )
    dup_frac = F.lit(1.0) - F.size(F.array_distinct("grams")).cast("double") / F.size("grams")
    repkeep = grams.filter(dup_frac <= REPETITION_MAX_DUP_FRAC).select("doc_id")

    # staged distinct (doc_id, shingle) pairs; <3-token docs dropped at
    # stage-build via the empty-array explode, mirroring the oracle's
    # WHERE len(toks) >= 3
    sh = staged_shingles(spark, sf_dir)
    contaminated = (
        contamination_pairs(
            sh.filter(F.col("doc_id") % _EVAL_MOD != 0),
            sh.filter(F.col("doc_id") % _EVAL_MOD == 0),
        )
        .select(F.col("train_doc_id").alias("doc_id"))
        .distinct()
    )

    return (
        manifest.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(repkeep, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
    )


@register("curate_pack_corpus", oracle=_CURATE_PACK_ORACLE, tags=("datapipe", "pipeline", "scrub"))
def q_curate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pretraining-data pipeline, one declarative plan: the
    gated survivors (``_pack_survivors``) → concat-and-chunk sequence
    packing (``scrub.pack_sequences``).  Output is the packed training
    manifest: where each surviving document lands in the fixed-token-budget
    sequence stream.

    Every stage is the already-tested operator, composed via doc_id-keyed
    joins; Catalyst fuses the per-row stages and the only exchanges are the
    dedup window, the gate joins, and the per-source packing running sum —
    the same shapes at 100 TB, just wider."""
    from .scrub import pack_sequences

    return pack_sequences(_pack_survivors(spark, sf_dir))


# --- quality-classifier-gated packing -------------------------------------------


def pack_corpus_gated(spark: SparkSession, sf_dir: str, keep: DataFrame) -> DataFrame:
    """``curate_pack_corpus`` with a PLUGGABLE classifier gate: the packing
    stream is rebuilt over ``survivors ∩ keep`` — filtering the packed
    manifest after the fact would be WRONG (removing a document shifts
    every later document's sequence offsets), so the gate joins in before
    the packing running sum.

    ``keep`` is any (doc_id) frame — the deployed linear classifier for the
    registered query below, the IRLS-trained distilled classifier in
    ``test_trainer.py`` (same code path, swapped model), or a real neural
    scorer's output table in production."""
    from .scrub import pack_sequences

    return pack_sequences(_pack_survivors(spark, sf_dir).join(keep.select("doc_id"), "doc_id"))


def _gated_pack_oracle() -> str:
    """The pack oracle with the deployed linear classifier's keep verdict
    joined into the survivor set — the score arithmetic is textstats'
    ``_SCORE_CTES`` expression inlined over the pack oracle's own ``feat``
    CTE (same normalized-token split, raw-text length, pinned association
    order), so both engines score identically."""
    from .textstats import QUALITY_WEIGHTS, STOPWORDS

    w0, w1, w2, w3 = QUALITY_WEIGHTS
    qscore = f"""), qkeep AS (
  SELECT doc_id FROM feat
  WHERE ((({w0} + {w1} * CAST(len(toks) AS DOUBLE))
          + {w2} * (CAST(len(list_filter(toks, x -> list_contains({list(STOPWORDS)!r}, x))) AS DOUBLE) / len(toks)))
          + {w3} * (CAST(length(text) AS DOUBLE) / len(toks))) >= 0
), gsurv AS (
  SELECT s.* FROM surv s JOIN qkeep q ON s.doc_id = q.doc_id
), c AS ("""
    assert _CURATE_PACK_ORACLE.count("), c AS (") == 1
    assert _CURATE_PACK_ORACLE.count("FROM surv\n") == 1
    return _CURATE_PACK_ORACLE.replace("), c AS (", qscore).replace(
        "FROM surv\n", "FROM gsurv\n"
    )


@register(
    "curate_pack_quality_gated",
    oracle=_gated_pack_oracle(),
    tags=("datapipe", "pipeline", "scrub", "quality", "r11"),
)
def q_curate_pack_quality_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline with a quality-CLASSIFIER inference pass
    as an additional packing gate (round-5 verdict stretch item): exact
    dedup → language gate → token band → repetition gate → decontamination
    → **model keep verdict** → sequence packing.  This registered instance
    deploys the fixed linear classifier (``quality_model_score``'s
    ``score ≥ 0`` verdict — SQL-expressible, so the driver hash-checks the
    gated manifest end-to-end); ``test_trainer.py`` drives the SAME
    ``pack_corpus_gated`` plan with the IRLS-TRAINED classifier's verdict
    and pins it against an independent pandas repack — together they cover
    "swap in a trained model" as a one-line change with the plumbing
    already verified.

    Plan shape over ``curate_pack_corpus``: one extra doc_id-keyed inner
    join before the packing window; the keep side is a stateless per-row
    score over one (doc_id, lang, text)-pruned scan — the one branch that
    cannot read the staged feature frame, because the deployed score uses
    RAW text length where the stage keeps only token arrays."""
    from .stage import staged_quality_scores

    keep = staged_quality_scores(spark, sf_dir).filter(F.col("score") >= 0).select("doc_id")
    return pack_corpus_gated(spark, sf_dir, keep)


# --- packing efficiency audit ----------------------------------------------------


def _packing_efficiency_oracle() -> str:
    """One aggregation over the pack oracle's final manifest: wrap the
    whole ``curate_pack_corpus`` SQL as a CTE and group it."""
    from .scrub import PACK_TOKEN_BUDGET

    return f"""
WITH packed AS ({_CURATE_PACK_ORACLE}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(last_seq) + 1 AS BIGINT) AS n_sequences,
       CAST((MAX(last_seq) + 1) * {PACK_TOKEN_BUDGET} - SUM(n_tokens) AS BIGINT) AS padding_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE)
             / ((MAX(last_seq) + 1) * {PACK_TOKEN_BUDGET}), 9) AS fill_rate,
       ROUND(CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS split_doc_share
FROM packed GROUP BY source
"""


@register(
    "packing_efficiency_by_source",
    oracle=_packing_efficiency_oracle(),
    tags=("datapipe", "pipeline", "audit", "r11"),
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit of the curated training stream, per source:
    sequence count, padding waste in the token budget (capacity −
    content), fill rate, and the share of documents split across a
    sequence boundary — the report that tells a training-data engineer
    whether the packing budget fits the document-length distribution
    (high padding → shrink the budget or concat more aggressively; high
    split share → attention-mask fragmentation, consider best-fit
    packing).  Concat-and-chunk packs densely, so the only padding is the
    tail of each source's LAST sequence — the audit still computes it
    from first principles (capacity − Σtokens) so a packing-strategy
    change (e.g. best-fit, which pads every sequence) reads out honestly.

    Plan: the packed manifest (already one declarative plan over the
    staged feature frame) collapsed by ONE |sources|-keyed aggregation —
    the manifest's own packing window provides the per-source partitioning,
    so the added aggregate is map-side-partial over already-clustered
    rows.  Exactness: counts and token sums are int64; fill_rate/
    split_doc_share divide two exact integers once."""
    from .scrub import PACK_TOKEN_BUDGET

    packed = q_curate_pack(spark, sf_dir)
    n_seqs = F.max("last_seq") + 1
    total = F.sum("n_tokens")
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        total.cast("long").alias("total_tokens"),
        n_seqs.cast("long").alias("n_sequences"),
        (n_seqs * PACK_TOKEN_BUDGET - total).cast("long").alias("padding_tokens"),
        F.round(
            total.cast("double") / (n_seqs * PACK_TOKEN_BUDGET), 9
        ).alias("fill_rate"),
        F.round(
            F.sum(F.when(F.col("first_seq") != F.col("last_seq"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("split_doc_share"),
    )


# --- length-bucketed batch manifest ----------------------------------------------

LENGTH_BUCKET_WIDTH = 16  # tokens per length bucket
BATCH_SIZE = 8  # documents per batch

_LENGTH_BATCH_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
  FROM documents
), b AS (
  SELECT doc_id, n_tokens,
         CAST(n_tokens // {LENGTH_BUCKET_WIDTH} AS BIGINT) AS bucket,
         ROW_NUMBER() OVER (PARTITION BY n_tokens // {LENGTH_BUCKET_WIDTH} ORDER BY doc_id) - 1 AS rn
  FROM t
)
SELECT doc_id, n_tokens, bucket,
       CAST(rn // {BATCH_SIZE} AS BIGINT) AS batch_id,
       CAST(rn % {BATCH_SIZE} AS BIGINT) AS pos_in_batch,
       CAST(MAX(n_tokens) OVER (PARTITION BY bucket, rn // {BATCH_SIZE}) - n_tokens AS BIGINT) AS pad_tokens
FROM b
"""


@register(
    "length_bucketed_batches",
    oracle=_LENGTH_BATCH_ORACLE,
    tags=("datapipe", "pipeline", "loader", "r11"),
)
def q_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch manifest — the OTHER batching strategy beside
    concat-and-chunk packing: SFT/seq2seq training can't split documents
    across sequences, so the loader instead groups similar-length examples
    into batches ({BATCH_SIZE} docs, buckets {LENGTH_BUCKET_WIDTH} tokens
    wide) and pads each example only to its BATCH max.  Output is the
    deterministic loader manifest (doc → bucket, batch, position) plus
    each example's padding cost under that grouping — summing
    ``pad_tokens`` against a single global-batch baseline is the measured
    win of length grouping.

    Deterministic: batch membership is doc_id order within bucket, no
    randomness (shuffle-for-SGD composes on top via the hash-keyed
    ``training_shard_manifest`` pattern).  Plan (round-6 verdict item 3):
    the per-bucket numbering goes through ``keyed_row_number`` — real
    corpora have Zipf-ish length distributions, so the MODAL bucket holds a
    large corpus fraction and a plain ``Window.partitionBy("bucket")``
    would funnel it through one task; the two-level form
    keeps parallelism data-proportional regardless of the length
    distribution.  The trailing (bucket, batch_id) pad window is
    high-cardinality (≤ {BATCH_SIZE} rows per group), so it stays a plain
    window.  Exactness: integer token counts, integer division; no floats
    anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    )
    bucket = (F.col("n_tokens") / LENGTH_BUCKET_WIDTH).cast("long")
    b = (
        keyed_row_number(t.withColumn("bucket", bucket), ["bucket"], ["doc_id"], "rn")
        .withColumn("rn", F.col("rn") - 1)
        .withColumn("batch_id", (F.col("rn") / BATCH_SIZE).cast("long"))
    )
    w_batch = Window.partitionBy("bucket", "batch_id")
    return b.select(
        "doc_id",
        "n_tokens",
        "bucket",
        "batch_id",
        (F.col("rn") % BATCH_SIZE).cast("long").alias("pos_in_batch"),
        (F.max("n_tokens").over(w_batch) - F.col("n_tokens")).cast("long").alias("pad_tokens"),
    )


# --- synthetic preference pairs ---------------------------------------------------


def _preference_pairs_oracle() -> str:
    from .textstats import QUALITY_WEIGHTS, STOPWORDS

    w0, w1, w2, w3 = QUALITY_WEIGHTS
    return f"""
WITH t AS (
  SELECT doc_id, source,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks,
         length(text) AS n_chars
  FROM documents
), scored AS (
  SELECT doc_id, source,
         ((({w0} + {w1} * CAST(len(toks) AS DOUBLE))
            + {w2} * (CAST(len(list_filter(toks, x -> list_contains({list(STOPWORDS)!r}, x))) AS DOUBLE) / len(toks)))
            + {w3} * (CAST(n_chars AS DOUBLE) / len(toks))) AS score
  FROM t
), keepers AS (
  SELECT source, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn
  FROM scored WHERE score >= 0
), drops AS (
  SELECT source, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY score ASC, doc_id) AS rn
  FROM scored WHERE score < 0
)
SELECT k.source, CAST(k.rn AS BIGINT) AS pair_rank,
       k.doc_id AS chosen_doc_id, d.doc_id AS rejected_doc_id,
       ROUND(k.score - d.score, 9) AS margin
FROM keepers k JOIN drops d ON k.source = d.source AND k.rn = d.rn
"""


@register(
    "preference_pairs_by_source",
    oracle=_preference_pairs_oracle(),
    tags=("datapipe", "pipeline", "quality", "r11"),
)
def q_preference_pairs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic preference-pair construction — the data-side step of
    DPO/RLHF-style training when no human ratings exist: within each
    source, the i-th BEST document by the quality classifier (keep
    verdict, score ≥ 0) is paired with the i-th WORST (drop verdict), so
    every pair is (chosen, rejected) with a positive margin and the pair
    count per source is min(|keep|, |drop|) — strongest contrasts pair
    first, and no document appears in two pairs.  ``margin`` (score gap)
    is the confidence weight a margin-aware objective consumes.

    Deterministic tie policy (score, then doc_id).  Plan (round-6 verdict
    item 2): the two per-source rankings are UNLIMITED (every rank is
    consumed by the pair join), so WindowGroupLimit can't help — each goes
    through ``keyed_row_number`` (partition ids by ranges of (source,
    order), broadcast per-partition count offsets, local numbering),
    keeping parallelism data-proportional instead of |sources|-bounded.
    The descending keep order rides a precomputed ``-score`` column (the
    helper orders ascending).  The final (source, rank) equi-join is
    unchanged.  Exactness: the score is the deployed gate's pinned
    association order; the margin subtracts two such doubles once."""
    from .stage import staged_quality_scores

    scored = staged_quality_scores(spark, sf_dir).drop("lang")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    s = scored.join(src, "doc_id")
    keepers = keyed_row_number(
        s.filter(F.col("score") >= 0).withColumn("_negscore", -F.col("score")),
        ["source"],
        ["_negscore", "doc_id"],
        "rn",
    ).select("source", "doc_id", "score", "rn")
    drops = keyed_row_number(
        s.filter(F.col("score") < 0), ["source"], ["score", "doc_id"], "rn"
    ).select("source", "doc_id", "score", "rn")
    return (
        keepers.alias("k")
        .join(drops.alias("d"), ["source", "rn"])
        .select(
            "source",
            F.col("rn").cast("long").alias("pair_rank"),
            F.col("k.doc_id").alias("chosen_doc_id"),
            F.col("d.doc_id").alias("rejected_doc_id"),
            F.round(F.col("k.score") - F.col("d.score"), 9).alias("margin"),
        )
    )


# --- dataset card -------------------------------------------------------------

_DATASHEET_ORACLE = """
WITH {exsub_ctes}, base AS (
  SELECT d.doc_id, d.lang, d.source, CAST(len(t.toks) AS BIGINT) AS n_toks
  FROM documents d JOIN t USING (doc_id)
), src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS total_tokens
  FROM base GROUP BY source
), lc AS (
  SELECT source, lang, COUNT(*) AS n FROM base GROUP BY 1, 2
), tl AS (
  SELECT source, lang, n,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn
  FROM lc
), sp AS (
  SELECT b.source,
         CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_spanned_docs,
         CAST(SUM(s.span_tokens) AS BIGINT) AS dup_tokens
  FROM spans s JOIN base b USING (doc_id) GROUP BY 1
)
SELECT src.source, src.n_docs, src.total_tokens,
       CAST(src.total_tokens AS DOUBLE) / src.n_docs AS avg_tokens,
       tl.lang AS top_lang,
       CAST(tl.n AS DOUBLE) / src.n_docs AS top_lang_share,
       COALESCE(sp.n_spanned_docs, 0) AS n_spanned_docs,
       ROUND(CAST(COALESCE(sp.dup_tokens, 0) AS DOUBLE) / src.total_tokens, 9)
         AS dup_token_share
FROM src
JOIN tl ON tl.source = src.source AND tl.rn = 1
LEFT JOIN sp ON sp.source = src.source
"""


@register(
    "corpus_datasheet_by_source",
    oracle=None,  # set below: the CTE chain lives in datapipe.dedup
    tags=("datapipe", "pipeline", "r10"),
)
def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card ("Datasheets for Datasets", Gebru et al. 2021,
    reduced to its computable table): per-source corpus composition —
    document/token volume, dominant language and its share, and duplication
    exposure (documents carrying an exact-substring duplicate span, share of
    tokens inside spans).  This is the table a data-governance review reads
    before a source is admitted to a training mix, and the denominator
    table DSIR/quota resampling starts from.

    Plan: everything keys on ``source`` (|sources| groups): one aggregate
    for volume, one (source, lang) count + struct-argmax for the dominant
    language (no window, same trick as ``modal_event_type_per_user``), and
    the span frame (3 shuffles, shared detection logic in
    ``datapipe.dedup.duplicate_substring_spans``) collapsing to a per-source
    pair of sums.  Ratios divide exact int64 sums once — bit-identical
    cross-engine."""
    from .dedup import duplicate_substring_spans
    from .stage import staged_features

    feat = staged_features(spark, sf_dir)
    base = feat.select(
        "doc_id", "lang", "source", F.size(F.col("toks")).cast("long").alias("n_toks")
    )
    src = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
    )
    top_lang = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("source")
        .agg(F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("lang").alias("lang"))).alias("b"))
        .select("source", F.col("b.lang").alias("top_lang"), (-F.col("b.neg_n")).alias("tn"))
    )
    sp = (
        duplicate_substring_spans(feat)
        .join(base.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_spanned_docs"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
        )
    )
    return (
        src.join(top_lang, "source")
        .join(sp, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias("avg_tokens"),
            "top_lang",
            (F.col("tn").cast("double") / F.col("n_docs")).alias("top_lang_share"),
            F.coalesce(F.col("n_spanned_docs"), F.lit(0)).cast("long").alias("n_spanned_docs"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("total_tokens"),
                9,
            ).alias("dup_token_share"),
        )
    )


def _wire_datasheet_oracle() -> None:
    """The datasheet oracle embeds the exact-substring CTE chain owned by
    ``datapipe.dedup``; wiring it post-definition avoids a curate→dedup
    import at module-import time (dedup imports stage, which imports
    curate's featurizer)."""
    from ..registry import REGISTRY
    from .dedup import _EXSUB_CTES

    REGISTRY["corpus_datasheet_by_source"].oracle = _DATASHEET_ORACLE.format(
        exsub_ctes=_EXSUB_CTES
    )


_wire_datasheet_oracle()


# --- first-fit-decreasing (FFD) sequence packing -----------------------------------------------

#: shards per source for the bin-packing state bound: FFD is inherently
#: sequential WITHIN its working set, so the working set is capped at one
#: (source, shard) slice — |sources| × BF_SHARDS independent packing tasks,
#: each holding only its slice's (doc_id, n_tokens) pairs (never text).
BF_SHARDS = 16


def firstfit_bins(t: DataFrame, budget: int, shards: int = BF_SHARDS) -> DataFrame:
    """First-fit-decreasing bin packing of documents into fixed-token bins,
    per (source, doc_id % shards) slice: the NO-SPLIT packing strategy —
    SFT/seq2seq examples can't straddle sequences, so instead of cutting
    (concat-and-chunk, ``pack_training_sequences``) the loader packs whole
    documents into bins and pads each bin's tail.

    FFD is the classic 11/9·OPT+1 heuristic; it needs ordered sequential
    state, which no window/aggregate composition expresses — exactly the
    case the brief reserves for ``applyInPandas``: Arrow delivers each
    (source, shard) slice as one pandas frame, a pure-Python greedy packs
    it, and only (doc_id, bin, offset) scalars come back.  Deterministic:
    sort by (n_tokens desc, doc_id asc), first fitting bin wins; oversize
    documents (n_tokens > budget) get a singleton bin rather than being
    dropped, so every input row survives.

    Scale: state per task is one slice's id/length pairs; adding shards
    (or a finer shard key) bounds it arbitrarily — the trade is packing
    quality at slice boundaries, the standard distributed-bin-packing
    compromise."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            zip(pdf["doc_id"], pdf["n_tokens"]), key=lambda r: (-int(r[1]), int(r[0]))
        )
        source = pdf["source"].iloc[0]
        shard = int(pdf["shard"].iloc[0])
        bins: list[int] = []  # remaining capacity per bin
        out = []
        for doc_id, n in rows:
            n = int(n)
            placed = -1
            if n <= budget:
                for b, rem in enumerate(bins):
                    if rem >= n:
                        placed = b
                        break
            if placed < 0:
                bins.append(budget)
                placed = len(bins) - 1
                if n > budget:  # oversize: singleton bin, fully consumed
                    bins[placed] = n
            out.append((int(doc_id), source, shard, placed, budget - bins[placed] if n <= budget else 0))
            bins[placed] -= n if n <= budget else bins[placed]
        return pd.DataFrame(
            out, columns=["doc_id", "source", "shard", "bin_id", "offset_in_bin"]
        )

    import pandas as pd  # noqa: F811 — rebind for the closure (pickled by value)

    t = t.withColumn("shard", (F.col("doc_id") % shards).cast("int"))
    return t.groupBy("source", "shard").applyInPandas(
        pack, schema="doc_id long, source string, shard int, bin_id int, offset_in_bin int"
    )


def pack_bestfit_efficiency_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMING NOTE: the strategy audited here is FIRST-FIT-DECREASING, not
    best-fit — the greedy places each doc in the first bin with room, not
    the tightest-remaining one (``firstfit_bins``).  The registry name
    ``pack_bestfit_efficiency`` predates the correction and is kept for
    BASELINE.json pin / golden-row continuity; read "bestfit" as "FFD" in
    any cross-strategy comparison table.

    First-fit-decreasing packing audit per source — the third packing strategy's
    readout beside ``packing_efficiency_by_source`` (concat-and-chunk) and
    ``length_bucketed_batches`` (length grouping): bins used, fill rate,
    and padding cost when documents must stay WHOLE.  Comparing this
    table's ``padding_tokens`` against the concat-and-chunk audit is the
    measured price of the no-split constraint; against a naive
    one-doc-per-sequence loader it is the measured win of packing at all.

    FFD's sequential greedy has no SQL form; the doc-level assignment is
    pinned in pytest against an independent pure-Python FFD replica plus
    invariants (no bin over budget, every doc packed), and this aggregate
    carries exact sf0.001 golden rows.  The registered
    ``pack_bestfit_efficiency`` wraps it in the conservation bound
    summary.  Plan: one corpus scan → (source, shard) applyInPandas
    (state = one slice's id/length pairs) → one |sources|-keyed
    aggregation."""
    from .scrub import PACK_TOKEN_BUDGET

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    )
    assigned = firstfit_bins(t, PACK_TOKEN_BUDGET)
    joined = assigned.join(t.select("doc_id", "n_tokens"), "doc_id")
    per_bin = joined.groupBy("source", "shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n_docs")
    )
    budget = PACK_TOKEN_BUDGET
    return per_bin.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("fill").cast("long").alias("total_tokens"),
        F.sum(
            F.when(F.col("fill") > budget, 0).otherwise(budget - F.col("fill"))
        ).cast("long").alias("padding_tokens"),
        F.round(
            F.sum("fill").cast("double")
            / F.sum(F.greatest(F.col("fill"), F.lit(budget))).cast("double"),
            9,
        ).alias("fill_rate"),
    )


_PACK_BOUND_ORACLE = """
WITH t AS (
  SELECT source, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
       TRUE AS overfilled_bins_are_single_doc,
       TRUE AS padding_matches_fill_gap
FROM t GROUP BY source
"""


@register(
    "pack_bestfit_efficiency",
    oracle=_PACK_BOUND_ORACLE,
    tags=("datapipe", "pipeline", "loader", "r12"),
)
def q_pack_bestfit_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the FFD packing audit (round-10
    oracle-ization): per-source CONSERVATION columns the DuckDB twin
    recomputes from the raw documents — every document packed exactly once
    (n_docs) and every token accounted (total_tokens); a greedy that drops,
    duplicates, or truncates a document now fails the driver's hash gate on
    the exact source it corrupts — plus two Spark-computed invariant
    booleans the twin asserts TRUE: a bin over the token budget holds
    exactly ONE (oversized) document, and the DETAIL SURFACE'S
    ``padding_tokens`` readout (``pack_bestfit_efficiency_detail`` —
    its own packer run and aggregation code path, the one the goldens
    pin) equals this function's independently coded fill gap
    (within-budget bin count × budget minus their summed fill).  The
    r10 version compared two spellings of the same algebraic expression
    over one frame — a tautology the round-10 advice flagged; any two
    derivations from the SAME per-bin frame are equal by algebra, so the
    non-vacuous form must put the detail's separately-maintained
    implementation on one side.  A padding-expression edit in either
    surface now trips the driver's hash gate.  Bin counts / fill rates
    (the FFD-quality numbers with no SQL form) stay on the detail with
    the golden rows and the pure-Python FFD replica.

    Plan: the detail's scan + packing pass runs once for its readout
    (|sources|-row output, broadcast into the final join) and this function's pass
    runs once for the per-bin booleans — two corpus passes by design,
    the price of keeping the two code paths independent enough to check
    each other."""
    from .scrub import PACK_TOKEN_BUDGET

    detail = (
        pack_bestfit_efficiency_detail(spark, sf_dir)
        .select("source", F.col("padding_tokens").alias("detail_padding"))
    )
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    )
    assigned = firstfit_bins(t, PACK_TOKEN_BUDGET)
    joined = assigned.join(t.select("doc_id", "n_tokens"), "doc_id")
    budget = PACK_TOKEN_BUDGET
    per_bin = joined.groupBy("source", "shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n_docs")
    )
    audited = per_bin.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("fill").cast("long").alias("total_tokens"),
        F.coalesce(
            F.min(
                F.when(F.col("fill") > budget, F.col("n_docs") == 1).otherwise(F.lit(True))
                .cast("int")
            )
            == 1,
            F.lit(True),
        ).alias("overfilled_bins_are_single_doc"),
        # independently coded fill gap: within-budget bin count × budget
        # minus their summed fill (the detail spells it as a per-bin
        # conditional difference)
        (
            F.lit(budget) * F.sum((F.col("fill") <= budget).cast("long"))
            - F.sum(F.when(F.col("fill") <= budget, F.col("fill")).otherwise(0)).cast("long")
        ).alias("independent_gap"),
    )
    return audited.join(F.broadcast(detail), "source").select(
        "source",
        "n_docs",
        "total_tokens",
        "overfilled_bins_are_single_doc",
        (F.col("detail_padding") == F.col("independent_gap")).alias(
            "padding_matches_fill_gap"
        ),
    )


# --- token-budget selection by quality ----------------------------------------------

SELECT_BUDGET_FRAC = 0.25  # select the best docs until 25% of pool tokens


def _budget_select_oracle() -> str:
    from .textstats import _SCORE_CTES

    return f"""
WITH {_SCORE_CTES}, s AS (
  SELECT sc.doc_id, sc.score, CAST(len(t.toks) AS BIGINT) AS n_tokens
  FROM scored sc JOIN t USING (doc_id)
), b AS (
  SELECT CAST(floor(SUM(n_tokens) * {SELECT_BUDGET_FRAC}) AS BIGINT) AS budget FROM s
), c AS (
  SELECT doc_id, score, n_tokens,
         SUM(n_tokens) OVER (ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM s
)
SELECT doc_id, ROUND(score, 9) AS score, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c, b WHERE cum <= budget
"""


@register(
    "budget_select_by_quality",
    oracle=_budget_select_oracle(),
    tags=("datapipe", "pipeline", "selection", "r12"),
)
def q_budget_select_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection: keep the highest-quality documents
    until {SELECT_BUDGET_FRAC:.0%} of the pool's tokens are spent — the
    "train on the best X% by classifier" selection rule (the budgeted
    sibling of the binary keep gate in ``quality_model_score``; phi-style
    pipelines and classifier-filtered CommonCrawl runs are exactly this).
    Output is the selected manifest with each document's cumulative token
    position, so the cut is reproducible and auditable.

    The global greedy needs a running token sum over the quality order —
    the canonical single-reducer trap — so it rides
    ``functions.skew.global_running_sum`` (the two-phase pattern, global
    form): partition ids monotone in (−score, doc_id), broadcast
    per-partition offsets, local cumsums.  Budget is one broadcast scalar
    (``floor(Σtokens · {SELECT_BUDGET_FRAC})`` — ¼ is a power of two, so
    the double multiply is exact on both engines).  Deterministic ties
    (score, then doc_id)."""
    from .stage import staged_features, staged_quality_scores

    scored = staged_quality_scores(spark, sf_dir).select("doc_id", "score")
    ntok = staged_features(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    s = scored.join(ntok, "doc_id").withColumn("_negscore", -F.col("score"))
    budget = F.broadcast(
        s.agg(F.floor(F.sum("n_tokens") * SELECT_BUDGET_FRAC).cast("long").alias("budget"))
    )
    cum = global_running_sum(s, ["_negscore", "doc_id"], "n_tokens", "cum_tokens")
    return (
        cum.crossJoin(budget)
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select(
            "doc_id",
            F.round("score", 9).alias("score"),
            "n_tokens",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )
