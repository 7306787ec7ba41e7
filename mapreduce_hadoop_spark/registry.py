"""Query registry: every implemented operator exposed as a (query, oracle) pair.

Each entry maps a SURVEY.md §2 operator (or north-star extension) to
1. a Spark callable ``(spark, sf_dir) -> DataFrame`` and
2. (where SQL-expressible) a DuckDB oracle SQL string over the same tables.

Column names are aliased identically on both sides — the driver sorts columns
by name before hashing values.

Driver-window rotation policy
-----------------------------
The correctness driver checks only the FIRST ``DRIVER_WINDOW`` registry
entries; the registry holds more. Ordering rule, from round 4 on:

1. Any query whose code, oracle, or output changed this round MUST be in
   the head (a fresh driver row is the only acceptable evidence). This
   round's set is ``CHANGED_THIS_ROUND`` below.
   1a. Exception — hash-identical plan rewrites: when a rewrite lands
   AFTER the round's head window is already full, it may stay in the
   tail iff its output value-hash is UNCHANGED at every gate scale
   (sf0.01 through sf1), proven by the committed pre-rewrite GATE logs
   matching the post-rewrite regenerated ones hash-for-hash. Identical
   output bytes mean the prior round's driver row still binds to what
   the code now produces. Such entries are listed in
   ``REWRITTEN_HASH_IDENTICAL`` and the hash equality is pinned by
   ``tests/test_registry_rotation.py`` against the committed log.
   1b. New queries registered after the head filled go into
   ``STAGED_NEXT_ROUND``: they sit in the tail with NO driver row,
   gate-verified locally this round, and MUST rotate into the next
   round's head (they are the oldest-evidence entries by definition).
   The freshness test exempts exactly this set and requires it to be
   empty of any query that ever received a driver row.
2. The remaining head slots go to the queries whose last driver row is
   oldest, so no query ever goes more than one round without a driver
   row (2-round cadence worst case).
3. Every tail entry must carry a green (or documented rows-only)
   driver row from the IMMEDIATELY PRECEDING round, and
   tools/check_oracle.py still gates the full registry locally every
   round (committed GATE_*.log artifacts).

The split is machine-checked: tests/test_registry_rotation.py asserts the
head size, that every CHANGED_THIS_ROUND entry is in the head, and that
every tail entry has a row in the newest committed CORRECTNESS_r*.json —
so a forgotten rotation fails the suite instead of aging silently.

Registry size policy (round 6 on)
---------------------------------
The driver window is fixed at 50 and the rotation cadence is 2 rounds,
so the policy bound "no query goes more than one round without a driver
row" is satisfiable only while

    len(registry) <= 2 * DRIVER_WINDOW - CHANGE_RESERVE

where CHANGE_RESERVE head slots per round are held back for queries that
changed while already carrying a fresh row, plus genuinely new queries
(historically 4-8 per round). ``MAX_REGISTRY`` (= 92) encodes this and
``tests/test_registry_rotation.py`` asserts it: past the cap, adding a
query requires RETIRING one. Round 6 retired two redundant demo twins on
this basis: ``multimodal_decode_stub`` (superseded by the strictly
stronger ``multimodal_real_roundtrip`` + ``multimodal_real_resize``,
whose oracles check the REAL byte paths end-to-end; its fake-decode
operator is since deleted) and the micro-batch trip twin (its code is
since deleted; the real trip stream's carry across checkpoint restarts
is pinned bit-identical to ``airport_trips_parity`` in
``tests/test_streaming_trips.py``; the registry keeps the parity and
timeout variants).

Round-7 application: the forced worst case of the 2-round cadence — all
38 tail entries' newest driver rows were r5, so the ENTIRE tail rotated
into the head. Head = 7 reference + 5 changed-and-promoted + 38
rotations = 50 exactly; two of the 38 rotations
(``text_language_id_ngram``, ``corpus_vocab_topk``) ALSO changed that
round (widen_to_cores adoption), so CHANGED_THIS_ROUND listed 7 names —
5 promoted into otherwise-free slots plus those 2 already forced in by
rotation. The r7 tail was the round-6-green remainder.

Round-8 application (CORRECTED in round 9 — the original version of
this paragraph claimed a "JPEG extension + vectorized LZW" behind the
two multimodal head slots; NO such code landed in round 8, and
multimodal.py was untouched that round. The record below is what
actually happened): the cadence forced the mirror-image full rotation —
all 38 r8-tail candidates' newest driver rows were r6, so they all
rotated in. Head = 7 reference + 5 changed slots + 38 rotations = 50.
Of the 5 changed slots, 3 carried real round-8 changes: the two
embedding-LSH twins under entropy-aware ``measured_sign_bits`` and
``text_gopher_rules`` as the representative of the r8 widen-infra
rework (metadata-driven scan-width estimate replacing the per-call
``.rdd`` materialization, value- and hash-identical for every
consumer). The two multimodal real-pixel queries occupied changed slots
WITHOUT a code change behind them — their fresh r8 rows are valid
evidence for the (unchanged, r7) code, but the recorded rationale was
false. Round 8 also failed to regenerate the rule-1a gate log its own
test pinned (repaired at the start of round 9: GATE_sf0.01_r8.log,
0 failures, both pinned hashes unchanged).

Round-9 application: the cadence again forces the full rotation — all
38 r9-tail candidates (the r8 tail) have r7 rows, so they all rotate
in. Head = 7 reference + 5 change slots + 38 rotations = 50. To avoid
repeating round 8's docstring-before-code failure, CHANGED_THIS_ROUND
starts EMPTY at rotation time and grows commit-by-commit as changes
actually land; the 5 reserved slots hold the queries this round's plan
targets (the two multimodal real-pixel queries — the carried JPEG/LZW
work — the two embedding-LSH twins, and the heaviest widen consumer),
which is a PLAN, not a claim: a slot whose change does not land simply
yields an ordinary fresh driver row for unchanged code, explicitly
recorded as such. The new tail is the round-8-green remainder.

Round-10 application: the forced full rotation a third time — all 38
r10-tail candidates (the r9 tail) have r8 rows, so they all rotate in.
Head = 7 reference + 5 change slots + 38 rotations = 50; the new tail
is the round-9-green remainder. The 5 change slots repeat the round-9
plan because round 9 landed none of it and round 10 targets exactly
that carried backlog: the two multimodal real-pixel queries (GIF
hardening + LZW vectorization + the JPEG decision), the two
embedding-LSH twins (probe memoization + sf10mut evidence), and
``text_gopher_rules`` as the widen-consumer representative for the
``parquet_scan_width`` remote-path fix. As in round 9,
CHANGED_THIS_ROUND starts EMPTY and grows commit-by-commit; rule-1a
candidates (the widen consumers left in the tail:
``text_language_id_ngram``, ``corpus_vocab_topk``) are pinned only in
the end-of-round evidence commit, against regenerated r10 gate logs,
and the SAME commit updates the test-side pin dict — the round-8/9
lesson, twice over, is that the registry tuple and the test pin must
move together or pytest goes red in the handoff.

Round-12 application: the cadence forces the full rotation a fifth
time — all 42 r12-tail candidates (the r11 tail, including the one
rule-1b staged entry ``similarity_topk_ivf_spann``, which takes its
first driver row) rotate in. Head = 7 reference + 42 rotations + 1
spare change slot = 50. The spare goes to ``similarity_topk_pq_trained``:
the round-12 plan (VERDICT order 1) is a stage-count fusion of the PQ
warm serving path, so the fused primary gets a fresh driver row rather
than riding a pin. The r11 rule-1a pin (``multimodal_real_jpeg``)
retires at rotation — the query is in the forced rotation set and takes
an ordinary fresh driver row. As before, CHANGED_THIS_ROUND starts
EMPTY and grows commit-by-commit. Rule-1a extension this round: the
gate runner now records value hashes for ROWS-ONLY queries too (same
hasher the PASS lines use), so an output-identical rewrite of a
rows-only query can be pinned exactly like a hash-verified one — the
pre-rewrite hashes are captured in committed GATE_rule1a_pre_r12_*.log
files generated from the untouched round-11 tree.

Round-13 application: the cadence forces the full rotation a sixth
time — all 42 r13-tail candidates (the r12 tail) have r11 rows, so they
all rotate in, EXCEPT ``similarity_topk_ivfpq``, which RETIRES at
rotation (the size policy's sixth exercise — see the retirement list
below). Head = 7 reference + 41 rotations + 1 new query
(``ann_append_serving``, taking the retired slot: the incremental-add
serving path gets the driver-visible row VERDICT r12 order 2 demanded)
+ 1 spare change slot (``similarity_topk_pq_trained`` — round 13 hardens
the artifact layer it serves from: fingerprint memoization/directory
support, delta keying, swap protocol — so the serving primary takes a
fresh driver row rather than riding a pin) = 50. As before,
CHANGED_THIS_ROUND starts EMPTY and grows commit-by-commit; the one
rule-1a candidate is ``similarity_topk_ivf_spann`` (r12 head -> r13
tail; its coarse-quantizer artifacts load through the hardened layer
with byte-identical outputs), pinned in the end-of-round evidence
commit against the fresh-fit GATE_rule1a_pre_r13_*.log hashes captured
off the untouched round-12 tree (which match the r12 logs
hash-for-hash at every scale).

Round-14 application: the cadence forces the full rotation a seventh
time — all 42 r14-tail candidates (the r13 tail) have r12 rows, so they
all rotate in. This is the round the reference-surface arithmetic of
the cadence pinches to ZERO spare slots (7 always-in-window reference +
42 forced rotations = 49 of 50), so the round's two output-changing
entries are each funded by a size-policy retirement: VERDICT r13
order 1's new ``ann_append_serving_fixed`` (the deterministic
fixed-books twin that makes the base+delta append union
HASH-verifiable) by retiring ``fn_distance`` (candidate #1 since round
11), and the order-4 per-query adaptive shortlist on
``similarity_topk_pq_trained`` (changed-while-fresh, head) by retiring
``events_daily_by_type``. Head = 7 reference + 1 new + 1 changed + 41
rotations = 50; the new tail is the round-13-green remainder. The
OTHER kmeans-trained queries (ivf/ivfpq_trained, ann_append_serving,
spann) stay in the TAIL riding fresh r13 rows, which is why their
outputs must not change this round: the cross-session kmeans hash
anomaly (diagnosed this round — the fit tracks the training input's
PHYSICAL ROW ORDER; SCALE_ann_r14.md) makes their rule-1a pins
same-day-only, and the deterministic-fit rework is staged for round 15
when the forced rotation puts every kmeans query back in the head.
``ann_append_serving`` therefore pins the round-13 fixed-floor serving
shape via an explicit ``adaptive=False`` (rule 1a, same-day pre/post
logs), adopting the dial at its next head rotation. As always,
CHANGED_THIS_ROUND grows commit-by-commit.

Round-17 application: the cadence forces the full rotation a tenth
time — all 42 r17-tail candidates (the r16 tail) have r15 rows, so they
all rotate in. Head = 7 reference + 42 rotations + 1 spare change slot
= 50; the new tail is the round-16-green remainder (the r16 head minus
the reference surface minus ``similarity_topk_filtered``, which RETIRES
at rotation — size policy's tenth exercise, see the candidate list; its
registry slot funds the round's new query). The spare holds the NEW
hash-verified SPANN replication twin (VERDICT r16 order 1:
``similarity_topk_ivf_spann_fixed`` — the memory-side closeness-bound
replication as a window formulation over fixed centroids, the last ANN
serving rule without a driver-enforced row). The round's other planned
change — the LAZY flat-codes re-layout (VERDICT r16 order 4: build the
flat copy on the first cost-rule flip toward flat, not unconditionally
at add time) — is output-neutral by construction (both branches are
output-identical, forced both ways in tests/test_similarity_pq.py), so
its two tail consumers (``similarity_topk_ivfpq_fixed``,
``similarity_topk_ivfpq_trained``, both r16 head -> r17 tail) take
rule-1a pins against the committed r16 gate logs, else they claim head
slots via retirement. As always, CHANGED_THIS_ROUND grows
commit-by-commit.

Round-16 application: the cadence forces the full rotation a ninth
time — all 41 r16-tail candidates (the r15 tail) have r14 rows, so they
all rotate in, EXCEPT ``text_normalize``, which RETIRES at rotation
(size policy's ninth exercise — see the candidate list; its slot funds
the round's new queries). Head = 7 reference + 40 rotations + 3 spare
change slots = 50; the new tail is the round-15-green remainder (the
r15 head minus the reference surface minus the spare-taken
``similarity_topk_ivfpq_trained``). The spares hold the round's two NEW
hash-verified ANN serving twins (VERDICT r15 orders 1 and 5:
``similarity_topk_ivfpq_fixed``, ``similarity_topk_ivf_adaptive``) and
``similarity_topk_ivfpq_trained`` (changed-while-fresh: the cost-rule
rework + the order-3 attribution target). The round's other planned
change — the escalating widen dial for the flat-PQ adaptive shortlist —
is expected OUTPUT-NEUTRAL on every organic gate corpus (a lossless
fire's widened re-rank is a superset that keeps an already-true top-k);
if the 5-scale hash comparison proves that, its consumers
(``similarity_topk_pq_trained``, ``ann_append_serving``, both r15 head
-> r16 tail) take rule-1a pins, else they claim the remaining head
slots via retirement. As always, CHANGED_THIS_ROUND grows
commit-by-commit.

Round-15 application: the cadence forces the full rotation an eighth
time — all 41 r15-tail candidates (the r14 tail) have r13 rows, so they
all rotate in. Head = 7 reference + 41 rotations + 2 spare change slots
= 50; the new tail is the round-14-green remainder. The spares are held
for the round's planned output changes (VERDICT r14 orders 1 and 4):
the DETERMINISTIC k-means fit (``repartition(1).sortWithinPartitions
("vec_id")`` on the capped training sample — proven bit-identical
across physical row layouts in round 14, SCALE_ann_r15.md §1) changes every kmeans-trained query's output, and the two
kmeans queries NOT already forced into the head by rotation
(``similarity_topk_pq_trained``, ``similarity_topk_ivf_spann``, both
r14 head) take the spares; the other three kmeans entries
(``similarity_topk_ivf_trained``, ``similarity_topk_ivfpq_trained``,
``ann_append_serving`` — which also adopts the adaptive shortlist dial
this round, its r14 ``adaptive=False`` pin expiring at rotation as
planned) are in the forced-rotation set already. As always,
CHANGED_THIS_ROUND starts EMPTY and grows commit-by-commit; rule-1a
candidate: ``ann_append_serving_fixed`` (r14 head -> r15 tail; the
round folds its line-for-line duplicated base/full derivation block
into a shared helper with ``ann_append_serving`` — VERDICT r14 wrong
item 3 — with byte-identical output, pinned against regenerated r15
gate logs).

Round-11 application: the cadence forces the full rotation a fourth
time — all 37 r11-tail candidates with rows (the r10 tail minus the 5
rule-1b staged entries) have r9 rows, so they all rotate in, and the 5
staged queries take their first driver rows (rule 1b mandates head).
Head = 7 reference + 5 staged promotions + 37 rotations + 1 spare
change slot = 50; the spare initially holds ``similarity_topk_ivf``
(fresh r10 row; the similarity module is this round's main work
surface — trained PQ codebooks + persisted index artifacts — so a
re-verifying row for the untrained IVF twin is the defensive choice).
The round-11 plan consumes the spare and one rotation slot with two
NEW queries as they land: ``similarity_topk_pq_trained`` (Lloyd-refined
subspace codebooks, the judge's named lever against the linear n/10
shortlist) retiring ``fn_epoch`` (candidate #1, in the rotation set →
frees its head slot), and ``multimodal_real_jpeg_color`` (4:2:0 YCbCr
baseline JPEG on the committed Huffman/IDCT kernels) retiring
``multimodal_frame_sample`` (candidate #2, in the new tail → frees a
registry slot; the new query takes the spare slot and
``similarity_topk_ivf`` returns to the tail on its r10 row). As
before, CHANGED_THIS_ROUND starts EMPTY and grows commit-by-commit.

Retirement candidates (size policy, 92/92 slots used — AT THE CAP)
-------------------------------------------------------------------
When an addition would exceed MAX_REGISTRY, retire from this ranked
list; each entry names where its evidence survives retirement.
Round 10 exercised the list: ``multimodal_resize_stub`` (then candidate
#1) retired in favor of ``multimodal_real_jpeg`` — all three real pixel
paths (PNG r6, GIF r7, JPEG r10) cover the resize plumbing with the
strictly stronger closed-form px_sum oracle; the fake-decode branch of
``resize_media`` and the stub's oracle are since deleted.

Exercised again late in round 10: ``text_language_id`` (then candidate
#1) retired in favor of ``multimodal_real_avi`` — the heuristic LID is
strictly dominated by ``text_language_id_ngram`` (same plan shape,
richer model); its stopword-argmax scorer, never called by a workload
since, was deleted in round 26 with its fixture.

Exercised a third time, round 11: ``fn_epoch`` (then candidate #1)
retired in favor of ``similarity_topk_pq_trained`` — the scalar is
consumed (and therefore driver-verified) by every sessionize-family
query each round, and the string-parse + NULL→0.0 edge cases got a
dedicated unit fixture in ``tests/test_timefns.py`` in the same commit.

And a fourth, round 11: ``multimodal_frame_sample`` (then candidate #1)
retired in favor of ``multimodal_real_jpeg_color`` — fake-payload frame
sampling is strictly dominated by ``multimodal_real_avi`` (REAL
container parse, same sampling law, stronger closed-form oracle); its
fake-payload frame-sampling operator is since deleted.

And a fifth, round 11: ``fn_width_bucket`` (then candidate #1) retired
in favor of staging ``similarity_topk_ivf_spann`` (rule 1b) — the bin
labeling is consumed (and therefore driver-verified) by
``trip_length_histogram`` (reference surface, always in-window) every
round, and the ``>=80`` clamp edge cases stay pinned by
``tests/test_histogram.py``. Its head slot went to the defensive
``similarity_topk_ivf`` re-verify row the rotation plan had originally
reserved the spare for.

And a sixth, round 13 (the retirement VERDICT r12 order 1 called due):
``similarity_topk_ivfpq`` (sign-orthant per-list residual books, fixed
K=16, n/10 linear shortlist — 8.48 s at sf1, 5.5x bruteforce) retired
in favor of ``ann_append_serving`` — its trained twin
``similarity_topk_ivfpq_trained`` carries driver rows (r11/r13), five
gate scales, 4.1x better sf1 wall, and crossover-measured economics;
the per-list-books plan and recall floor stay pinned by
``tests/test_similarity_pq.py::test_ivfpq_recall_and_plan``, and the
full row-for-row DuckDB oracle parity the driver used to re-verify
survives as ``test_ivfpq_matches_oracle_post_retirement`` (added in the
same commit). ``similarity_topk_pq`` stays as the single hash-verified
PQ parity twin, its n/10 shortlist documented as the verification
trade.

And a seventh, round 14: ``fn_distance`` (candidate #1 since round 11)
retired in favor of ``ann_append_serving_fixed`` — the plane-projection
distance is consumed (and therefore driver-verified) by
``trip_length_histogram`` (reference surface, always in-window) and the
sessionize family every round, and the standalone arithmetic stays
pinned by ``tests/test_gps.py`` / ``tests/test_histogram.py``. The
operator and its oracle were deleted in round 26, with the other two
retired ``fn_*`` scalars.

And an eighth, round 14: ``events_daily_by_type`` (nominated candidate
#1 earlier this round) retired in favor of promoting
``similarity_topk_pq_trained`` into the head as a changed-while-fresh
entry — the round's per-query adaptive shortlist (VERDICT r13 order 4)
changes its sf0.1+ output, and the reference-surface arithmetic left
zero spare slots. Its rows are exactly the finest grouping set of
``events_cube`` (driver-verified on the rotation cadence), pinned by
the same-commit fixture ``tests/test_relational_ext.py::
test_daily_by_type_is_cube_finest_cells`` until round 26 deleted the
operator, its oracle and that fixture.

And a ninth, round 16: ``text_normalize`` (candidate #1 since round 14)
retired at rotation, its slot funding ``similarity_topk_ivfpq_fixed`` +
``similarity_topk_ivf_adaptive`` (one registry slot + one head slot; the
other new-query slot was free — 91 -> 92 = MAX_REGISTRY). Per the
candidate's own condition, the normalization expression became ONE
shared function in the same commit (``textops.normalize_text_col``, now
bound by ``dedup.exact_dedup_normalized`` — driver-verified on the
rotation cadence) and the identity is pinned by the same-commit fixture
``tests/test_textops.py::test_normalize_expression_shared_with_dedup``.
The standalone operator and its oracle were deleted in round 26.

And a tenth, round 17: ``similarity_topk_filtered`` (candidate #1
since round 16) retired at rotation, its slot funding
``similarity_topk_ivf_spann_fixed`` — the filter composition over the
brute-force plan shape is one broadcast-side semi join, and the
same-commit fixture ``tests/test_plans.py::
test_topk_filtered_plan_identity_post_retirement`` pins BOTH the
filtered/unfiltered plan identity (bruteforce plan + exactly one extra
broadcast left-semi join, no extra exchange) and the lang-predicate
parquet pushdown, plus full row-for-row DuckDB oracle parity locally,
until round 26 deleted the operator, its oracle and that fixture.

Next retirement candidates, ranked:

1. ``events_tumbling_window`` — a strict special case of
   ``events_sliding_window`` (slide = width collapses the slide
   expansion to one window per event); the tumbling arithmetic is the
   degenerate cell of the same plan. If exercised, delete the operator
   and its oracle in the same commit: tests/test_reachability.py fails
   on a package name that only tests reach.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], "str | None"]

# How many leading registry entries the driver's correctness check covers.
DRIVER_WINDOW = 50

# Head slots per round reserved for changed-while-fresh + new queries; the
# registry may not grow past MAX_REGISTRY or the 2-round rotation cadence
# stops being satisfiable (see the size policy in the module docstring).
CHANGE_RESERVE = 8
MAX_REGISTRY = 2 * DRIVER_WINDOW - CHANGE_RESERVE

# The build round this registry ordering was arranged FOR. Bump this when
# rotating at the start of each round — the freshness test then demands
# tail rows from the new preceding round, so an un-rotated registry fails
# the suite the moment the round number moves.
ROUND = 17

# Rotation rule 1, this round: queries whose code, oracle, or output
# changed and therefore require a fresh driver row. Starts EMPTY at
# rotation time; each commit that changes a query appends it HERE, in
# THAT commit — never before the code lands (the round-8 lesson).
# Round 17 at rotation: the NEW hash-verified SPANN replication twin
# (VERDICT r16 order 1 — similarity_topk_ivf_spann_fixed pins the
# memory-side (1+eps)^2 closeness-bound replication, RMAX clamp, and
# nearest-always-kept guard as a window formulation over fixed
# centroids; landed in the immediately preceding commit).
# Added mid-round: the adaptive dial's two consumers — the ordinary
# widen moved 4x -> 8x on the second-family calibration point
# (SCALE_ann_r17.md §2: covered 0.369 reads 0.8 at 4x, 1.0 at
# 8x; PQ_ADAPT_WIDEN comment has the table). Output-neutral at all
# five gate scales vs the committed r16 logs
# (tools/dial_escalation_check.py, 0 differences, run pre-landing),
# but both are in the forced-rotation head anyway, so fresh driver
# rows — the stronger evidence — cover the code change.
CHANGED_THIS_ROUND: tuple[str, ...] = (
    "similarity_topk_ivf_spann_fixed",
    "similarity_topk_pq_trained",
    "ann_append_serving",
    # Round 18 (OPTIMIZATION round over the round-17 registry — no
    # rotation; ROUND stays 17 because the window ordering is still the
    # round-17 arrangement): plan-shape rewrites with output verified
    # BIT-IDENTICAL against the committed r17 gate logs at sf0.001/0.01/
    # 0.1 before landing (see OPTIMIZATION_r18.md). All are in-window,
    # so the round-18 driver run re-hashes them directly:
    # - corpus self-join removals (quality computed in the scan):
    "corpus_weighted_sample",
    "corpus_train_split",
    "corpus_domain_quota",
    # - IVF assignment went map-side (in-row argmax over the broadcast
    #   centroid array replaces the vec_id-partitioned window exchange):
    "similarity_topk_ivf",
    "similarity_topk_ivf_trained",
    # - SPANN replication rule evaluated in-row (same constants, same
    #   tie order; the DuckDB oracle keeps the window formulation):
    # ("similarity_topk_ivf_spann_fixed" already listed above.)
    # - MinHash-LSH candidates via one bucket groupBy instead of the
    #   banded self-join + bucket-count window:
    "dedup_minhash_lsh",
    # - SPANN candidate side: the duplicate-collapse aggregate and the
    #   rank window now share ONE query_id exchange (repartition folds
    #   the dropDuplicates' own (query_id, vec_id) exchange away;
    #   duplicates carry identical cosines, so output is unchanged —
    #   verified vs the committed r17 gate hashes at 3 scales). The
    #   fixed twin's same fold rides its existing entry above.
    "similarity_topk_ivf_spann",
    # Round 19 (second OPTIMIZATION round over the round-17 registry —
    # still no rotation; ROUND stays 17): plan-shape rewrites with
    # output verified BIT-IDENTICAL against the committed r18 gate logs
    # at sf0.001/0.01/0.1 before landing (see OPTIMIZATION_r19.md).
    # In-window, so the round-19 driver run re-hashes them directly:
    # - the sign-orthant flat-PQ twin serves through the single PQ
    #   pipeline (books -> driver-built ADC arrays -> one ADC scan ->
    #   shortlist -> exact re-rank): its codebook rows are collected
    #   and the query side is a local relation, so the q x cent
    #   crossJoin, the ADC scatter exchanges and the adc persist are
    #   gone; the codebook aggregation itself is unchanged and re-runs
    #   per invocation (VERDICT r18 order 4 — decided, not re-deferred):
    "similarity_topk_pq",
)

# Rule 1a: plan rewrites whose output value-hash is unchanged at every
# gate scale, pinned against regenerated SRCHASH-bound gate logs.
# The two IVF-PQ builders serve codes from one flat artifact filtered to
# the probe union and re-rank from the corpus, a rewrite of their r16
# serving plan with output identical: their pins keep the committed r16
# hashes, and the regenerated sf0.01 log pins them at the current tree.
REWRITTEN_HASH_IDENTICAL: tuple[str, ...] = (
    "similarity_topk_ivfpq_fixed",
    "similarity_topk_ivfpq_trained",
    # Round 18 (optimization): tail consumers of the same rewrites the
    # CHANGED_THIS_ROUND block documents — outputs verified bit-identical
    # vs the committed r17 gate hashes at sf0.001/0.01/0.1 (pins in
    # tests/test_registry_rotation.py against the regenerated r18 log):
    "corpus_clean_stats",        # fused scan + window exact-dedup + LSH rewrite
                                 # (r18); r19: static broadcast near-dup
                                 # anti-join (corpus-side doc_id exchange
                                 # gone, VERDICT r18 order 2) — hashes
                                 # re-verified vs the committed r18 logs at
                                 # 3 scales.
    "similarity_topk_ivf_adaptive",  # lists via the map-side _assign
    "dedup_clusters",            # LSH candidate rewrite (pair graph unchanged)
    "dedup_keep_best",           # same, plus the untouched quality join
    "text_quality_score",        # expression-identical quality_exprs refactor
    "dedup_exact",               # keeper via window, one h-exchange (was two)
    "dedup_exact_normalized",    # same single-exchange keeper window
    # Second r18 batch (same protocol, hashes verified vs the committed
    # r17 logs at sf0.001/0.01/0.1 before landing):
    "similarity_topk_lsh",       # cosine projected BEFORE the dedup (24 B
                                 # rows, not two v[64] payloads) + dedup and
                                 # rank window share one query_id exchange
    "dedup_simhash",             # zero-shingle filter as a token-count test
                                 # at the scan — the pushed size(hs)>0 filter
                                 # re-ran the whole shingle+md5 chain twice
    "segment_customer_setops",   # one membership aggregate (1 exchange, 1
                                 # scan) replaces the six-exchange
                                 # three-scan set-operator plan
    "text_tfidf_top_terms",      # df via count() OVER (PARTITION BY term)
                                 # — the dfreq join re-ran the whole
                                 # tokenize+tf subtree a second time
    # Round 19 (second optimization round, same protocol — hashes
    # verified vs the committed r18 logs at sf0.001/0.01/0.1 before
    # landing, pins against the regenerated r19 sf0.01 log):
    "similarity_near_dup_lsh",   # band self-join de-payloaded (VERDICT
                                 # r18 order 1): id-only in-row bucket
                                 # pairs (<= EMB_BUCKET_CHUNK) + ids-only
                                 # streaming join for over-CHUNK buckets,
                                 # vectors re-attached for the exact
                                 # verify — no exchange carries v[64]
)

# Rule 1b: registered after this round's head filled; no driver row yet.
# Round 17: none.
STAGED_NEXT_ROUND: tuple[str, ...] = ()

# Driver-window head, in order, for ROUND above. Composition: 7 reference
# surface (always in window) + 42 row-carrying round-16 tail entries
# (rule 2 — the forced full rotation) + 1 spare change slot (the round's
# NEW hash-verified SPANN replication twin). See the Round-17
# application paragraph.
HEAD = (
    # Reference surface (O1-O23) — always in-window.
    "trip_length_histogram",
    "segments_clean_positions",
    "trips_sessionize_window",
    "airport_trips_window",
    "airport_trips_parity",
    "daily_revenue",
    "total_revenue",
    # Round-16-green tail rotations (rule 2): the row-carrying round-16
    # tail rotates in, in its r16 definition order.
    "events_cube",
    "customer_balance_windows",
    "events_hash_sample",
    "events_stratified_sample",
    "customer_order_semi_anti",
    "events_grouping_sets",
    "orders_pivot_priority",
    "lineitem_measures_unpivot",
    "lineitem_percentiles",
    "approx_lineitem_percentiles",
    "events_salted_agg",
    "events_tumbling_window",
    "events_sliding_window",
    "events_daily_gapfill",
    "similarity_topk_pq_trained",
    "corpus_domain_mix",
    "corpus_pack_sequences",
    "events_keyed_dedup",
    "events_enriched",
    "similarity_near_dup_cosine",
    "global_top_orders",
    "sql_revenue_by_nation",
    "trips_concurrency",
    "text_pii_scrub",
    "views_before_purchase_range_join",
    "similarity_topk_ivf_trained",
    "similarity_topk_ivf_spann",
    "multimodal_real_jpeg_color",
    "airport_trips_timeout",
    "corpus_weighted_sample",
    "corpus_train_split",
    "corpus_domain_quota",
    "customer_activity_reconcile",
    "sql_orders_above_customer_avg",
    "corpus_vocab_topk",
    "text_language_id_ngram",
    "dedup_minhash_lsh",
    "similarity_topk_ivf",
    "similarity_topk_pq",
    "multimodal_real_wav",
    "ann_append_serving",
    "multimodal_real_avi",
    # Spare change slot: the NEW hash-verified SPANN replication twin
    # (first driver row).
    "similarity_topk_ivf_spann_fixed",
)


def _specs() -> dict[str, QuerySpec]:
    from mapreduce_hadoop_spark.operators import (
        analytics,
        corpus,
        dedup,
        histogram,
        multimodal,
        relational_ext,
        revenue,
        segments,
        sessionize,
        similarity,
        sqlapi,
        temporal,
        textops,
    )
    from mapreduce_hadoop_spark.streaming import joins as stream_joins
    from mapreduce_hadoop_spark.streaming import sessions, trips

    specs: dict[str, QuerySpec] = {
        # Definition order is IRRELEVANT — the HEAD tuple above imposes the
        # driver-window ordering at the bottom of this function.
        "events_cube": (relational_ext.events_cube, relational_ext.EVENTS_CUBE_ORACLE),
        "customer_balance_windows": (
            relational_ext.customer_balance_windows,
            relational_ext.CUSTOMER_WINDOWS_ORACLE,
        ),
        "events_hash_sample": (
            relational_ext.events_hash_sample,
            relational_ext.EVENTS_HASH_SAMPLE_ORACLE,
        ),
        "events_stratified_sample": (
            relational_ext.events_stratified_sample,
            relational_ext.EVENTS_STRATIFIED_SAMPLE_ORACLE,
        ),
        "customer_order_semi_anti": (
            relational_ext.customer_order_semi_anti,
            relational_ext.SEMI_ANTI_ORACLE,
        ),
        "events_grouping_sets": (
            relational_ext.events_grouping_sets,
            relational_ext.EVENTS_GROUPING_SETS_ORACLE,
        ),
        "orders_pivot_priority": (
            relational_ext.orders_pivot_priority,
            relational_ext.ORDERS_PIVOT_ORACLE,
        ),
        "lineitem_measures_unpivot": (
            relational_ext.lineitem_measures_unpivot,
            relational_ext.LINEITEM_UNPIVOT_ORACLE,
        ),
        "lineitem_percentiles": (
            relational_ext.lineitem_percentiles,
            relational_ext.LINEITEM_PERCENTILES_ORACLE,
        ),
        # Sketch percentiles: estimates are algorithm-specific -> rows-only;
        # tests/test_relational_ext.py bounds the error vs the exact twin.
        "approx_lineitem_percentiles": (
            relational_ext.approx_lineitem_percentiles,
            None,
        ),
        "events_salted_agg": (
            relational_ext.events_salted_agg,
            relational_ext.EVENTS_SALTED_ORACLE,
        ),
        # Temporal windows (north-star extension).
        "events_tumbling_window": (
            temporal.events_tumbling_window,
            temporal.EVENTS_TUMBLING_ORACLE,
        ),
        "events_sliding_window": (
            temporal.events_sliding_window,
            temporal.EVENTS_SLIDING_ORACLE,
        ),
        "events_daily_gapfill": (
            temporal.events_daily_gapfill,
            temporal.EVENTS_GAPFILL_ORACLE,
        ),
        # fn_distance RETIRED round 14 (size policy's seventh exercise,
        # candidate #1 since round 11, its slot funding
        # ann_append_serving_fixed): the plane-projection arithmetic is
        # consumed by trip_length_histogram (reference surface, always
        # in-window) and the sessionize family every round, stays
        # unit-pinned by tests/test_gps.py / tests/test_histogram.py;
        # the operator and its oracle were deleted in round 26.
        # NEW round 11 (slot freed by retiring fn_epoch): flat PQ under
        # Lloyd-TRAINED subspace codebooks — the judge's named lever
        # against the sign-orthant n/10 shortlist. Trained-cell ADC
        # distortion falls with n, so the exact re-rank is near-constant
        # (max(50, n/100)); books are fitted once (Spark ML KMeans per
        # subspace, capped deterministic sample) and PERSISTED as index
        # artifacts (operators/ann_index.py — the FAISS train/add split).
        # K-means training is not SQL-expressible -> rows-only; recall
        # bounded vs brute force in tests/test_similarity_pq.py and the
        # sign-orthant similarity_topk_pq hash-verifies the plan shape.
        "similarity_topk_pq_trained": (similarity.topk_pq_trained, None),
        # Pretraining domain-mix rebalance + sequence packing.
        "corpus_domain_mix": (corpus.corpus_domain_mix, corpus.DOMAIN_MIX_ORACLE),
        "corpus_pack_sequences": (textops.pack_sequences, textops.PACK_SEQUENCES_ORACLE),
        # Keyed event dedup and the customer-segment enrich join.
        "events_keyed_dedup": (sessions.keyed_dedup_batch, sessions.KEYED_DEDUP_ORACLE),
        "events_enriched": (
            stream_joins.enriched_events_batch,
            stream_joins.ENRICHED_EVENTS_ORACLE,
        ),
        # All-pairs cosine baseline (labeled O(n^2); LSH twin is the scale path).
        "similarity_near_dup_cosine": (
            similarity.near_dup_cosine,
            similarity.NEAR_DUP_ORACLE,
        ),
        # text_language_id RETIRED late round 10 (size policy, candidate
        # #1 when multimodal_real_avi took its slot): strictly dominated
        # by text_language_id_ngram; its stopword-argmax scorer was
        # deleted in round 26.
        "global_top_orders": (
            analytics.global_top_orders,
            analytics.GLOBAL_TOP_ORDERS_ORACLE,
        ),
        # spark.sql surface: the same join plan declared as SQL text with
        # broadcast hints; shares the DataFrame twin's oracle.
        "sql_revenue_by_nation": (
            sqlapi.sql_revenue_by_nation,
            sqlapi.SQL_REVENUE_BY_NATION_ORACLE,
        ),
        "trips_concurrency": (
            temporal.trips_concurrency,
            temporal.TRIPS_CONCURRENCY_ORACLE,
        ),
        "dedup_keep_best": (dedup.dedup_keep_best, dedup.DEDUP_KEEP_BEST_ORACLE),
        "text_pii_scrub": (textops.pii_scrub, textops.PII_SCRUB_ORACLE),
        "views_before_purchase_range_join": (
            temporal.views_before_purchase_range_join,
            temporal.VIEWS_BEFORE_PURCHASE_ORACLE,
        ),
        # The IVF entries are one probe-and-rank path (lists JOIN
        # broadcast(probes) -> self-filter -> the exact top-K ranker);
        # each differs only in centroid source, list assignment and probe
        # selection. K-means centroids here: training is not
        # SQL-expressible -> rows-only; recall vs the fixed-centroid
        # variant bounded in tests/test_similarity_ivf.py.
        "similarity_topk_ivf_trained": (similarity.topk_ivf_trained, None),
        # IVF path, trained centroids, SPANN boundary replication as the
        # list assignment: every list within the (1+eps) closeness bound
        # (eps=0.1: recall 0.98/0.94 at sf0.01/sf0.1 vs
        # topk_ivf_trained's 0.80/0.88, at a measured 2.3x/2.8x index
        # replication bounded by SPANN_RMAX) — recall bought with index
        # size instead of probe width. Rows-only (k-means); recall
        # bounded in tests/test_similarity_ivf.py.
        "similarity_topk_ivf_spann": (similarity.topk_ivf_spann, None),
        # multimodal_decode_stub RETIRED round 6 (size policy);
        # multimodal_resize_stub RETIRED round 10 (retirement-candidate #1
        # when the JPEG query took its slot): all three real pixel paths
        # (PNG r6, GIF r7, JPEG r10) cover the resize batch shape with the
        # strictly stronger closed-form px_sum oracle; both stubs' code is
        # deleted.
        # NEW round 10: baseline-sequential grayscale JPEG pixel decode —
        # the reference gap parked since round 7. Block-constant pattern
        # makes the lossy DCT round-trip exact, so the oracle predicts
        # decoded pixels in closed form (multimodal.py:MEDIA_REAL_JPEG_ORACLE).
        "multimodal_real_jpeg": (
            multimodal.media_real_jpeg,
            multimodal.MEDIA_REAL_JPEG_ORACLE,
        ),
        # NEW round 11 (slot freed by retiring multimodal_frame_sample):
        # 4:2:0 YCbCr COLOR JPEG — interleaved 16x16 MCUs (4 Y + Cb + Cr),
        # distinct luma/chroma quantization and Huffman tables,
        # per-component DPCM, chroma upsample, JFIF YCbCr->RGB with
        # cross-engine floor(x+0.5) rounding. MCU-constant pattern keeps
        # the subsampled lossy round-trip bit-exact, so the oracle
        # predicts per-channel pixel sums in closed form
        # (multimodal.py:MEDIA_REAL_JPEG_COLOR_ORACLE).
        "multimodal_real_jpeg_color": (
            multimodal.media_real_jpeg_color,
            multimodal.MEDIA_REAL_JPEG_COLOR_ORACLE,
        ),
        # Real pixel path: patterned PNG encode -> zlib inflate + full
        # unfilter -> NN resample; oracle predicts the pixel SUM in closed
        # form, so the hash verifies the pixel-level decode end-to-end.
        "multimodal_real_resize": (
            multimodal.media_real_resize,
            multimodal.MEDIA_REAL_RESIZE_ORACLE,
        ),
        # Normalize-then-hash exact dedup (C4/CCNet first pass).
        "dedup_exact_normalized": (
            dedup.exact_dedup_normalized,
            dedup.EXACT_DEDUP_NORMALIZED_ORACLE,
        ),
        # NEW this round: batch twin of the event-time-timeout trip stream
        # (the production variant: bounded state, trailing trips flushed at
        # the end-of-input watermark). Deterministic — the flush decision
        # depends only on the final watermark, not on micro-batch splits —
        # but an order-dependent stateful fold, so rows-only; parity rows
        # bit-match the no-timeout path and the flush semantics are pinned
        # in tests/test_streaming_trips.py.
        "airport_trips_timeout": (trips.airport_trips_timeout_batch, None),
        # NEW this round: corpus-curation sampling trio — derandomized
        # Efraimidis-Spirakis weighted sampling, the deterministic
        # train/val/test hash split, and per-domain quality top-N quota.
        "corpus_weighted_sample": (
            corpus.corpus_weighted_sample,
            corpus.WEIGHTED_SAMPLE_ORACLE,
        ),
        "corpus_train_split": (corpus.corpus_train_split, corpus.TRAIN_SPLIT_ORACLE),
        "corpus_domain_quota": (
            corpus.corpus_domain_quota,
            corpus.DOMAIN_QUOTA_ORACLE,
        ),
        # NEW this round: spec-valid PNG/GIF synthesis -> stdlib header
        # decode in one Arrow pass; the oracle predicts dimensions from
        # doc_id, so the hash verifies the REAL byte-level decode path.
        "multimodal_real_roundtrip": (
            multimodal.media_real_roundtrip,
            multimodal.MEDIA_REAL_ROUNDTRIP_ORACLE,
        ),
        # NEW this round: FULL OUTER reconciliation (aggregate-then-join)
        # and the correlated-scalar-subquery SQL surface (Catalyst
        # decorrelation pinned by plan test).
        "customer_activity_reconcile": (
            analytics.customer_activity_reconcile,
            analytics.CUSTOMER_RECONCILE_ORACLE,
        ),
        "sql_orders_above_customer_avg": (
            sqlapi.sql_orders_above_customer_avg,
            sqlapi.SQL_ABOVE_AVG_ORACLE,
        ),
        # NEW this round: corpus-level token vocabulary (tokenizer prep);
        # partial combine absorbs the Zipf hot tokens map-side.
        "corpus_vocab_topk": (textops.vocab_topk, textops.VOCAB_TOPK_ORACLE),
        # Changed this round (rule 1): trigram-set intersection rewritten
        # as 40 substring probes (hash-identical, 50.4s -> 7.4s at sf1).
        "text_language_id_ngram": (
            textops.language_id_ngram,
            textops.LANGUAGE_ID_NGRAM_ORACLE,
        ),
        # Reference surface (O1-O23) — the engine's core; always in-window.
        "trip_length_histogram": (histogram.histogram_query, histogram.ORACLE_SQL),
        "segments_clean_positions": (segments.clean_positions_query, segments.ORACLE_SQL),
        "trips_sessionize_window": (
            sessionize.trips_window_query,
            sessionize.TRIPS_WINDOW_ORACLE,
        ),
        "airport_trips_window": (
            sessionize.airport_trips_query,
            sessionize.AIRPORT_TRIPS_ORACLE,
        ),
        # O15 parity path: exact state-machine replay (order-dependent
        # speed-drop semantics; not SQL-expressible -> rows-only check,
        # unit fixtures in tests/test_sessionize.py).
        "airport_trips_parity": (sessionize.airport_trips_parity_query, None),
        "daily_revenue": (revenue.daily_revenue_query, revenue.DAILY_ORACLE),
        "total_revenue": (revenue.total_revenue_query, revenue.TOTAL_ORACLE),
        "dedup_minhash_lsh": (dedup.minhash_lsh_pairs, dedup.MINHASH_LSH_ORACLE),
        "dedup_simhash": (dedup.simhash_pairs, dedup.SIMHASH_ORACLE),
        "corpus_clean_stats": (corpus.corpus_clean_stats, corpus.CORPUS_CLEAN_ORACLE),
        # events_daily_by_type RETIRED round 14 (size policy's eighth
        # exercise, funding the adaptive-shortlist head slot for
        # similarity_topk_pq_trained): its rows are exactly the finest
        # grouping set of events_cube (driver-verified on the cadence),
        # pinned by tests/test_relational_ext.py::
        # test_daily_by_type_is_cube_finest_cells until round 26, which
        # deleted the operator, its oracle and that test.
        "market_segment_balance": (
            analytics.market_segment_balance,
            analytics.MARKET_SEGMENT_ORACLE,
        ),
        "text_fingerprints": (textops.fingerprints, textops.FINGERPRINTS_ORACLE),
        "text_tfidf_top_terms": (textops.tfidf_top_terms, textops.TFIDF_ORACLE),
        "text_document_chunks": (textops.document_chunks, textops.DOCUMENT_CHUNKS_ORACLE),
        # text_normalize RETIRED round 16 (size policy's ninth exercise,
        # candidate #1 since round 14, its slot funding the two new
        # hash-verified ANN serving twins): the normalization expression
        # is ONE shared function (textops.normalize_text_col) consumed —
        # and therefore driver-verified — by dedup_exact_normalized on
        # the rotation cadence; identity pinned by the same-commit
        # fixture in tests/test_textops.py. Operator + oracle deleted in
        # round 26.
        "text_repetition_score": (textops.repetition_score, textops.REPETITION_ORACLE),
        "similarity_topk_bruteforce": (
            similarity.topk_bruteforce,
            similarity.TOPK_BRUTEFORCE_ORACLE,
        ),
        # similarity_topk_filtered RETIRED round 17 (size policy's tenth
        # exercise, candidate #1 since round 16, its slot funding
        # similarity_topk_ivf_spann_fixed): the filter composition is
        # one broadcast left-semi join over the hash-verified
        # similarity_topk_bruteforce plan (always re-verified on the
        # cadence); the plan identity + lang-predicate pushdown + full
        # row-for-row oracle parity stayed pinned by the same-commit
        # fixture tests/test_plans.py::
        # test_topk_filtered_plan_identity_post_retirement until round
        # 26 deleted the operator, its oracle and that fixture.
        "similarity_topk_lsh": (similarity.topk_lsh, similarity.TOPK_LSH_ORACLE),
        "similarity_near_dup_lsh": (
            similarity.near_dup_cosine_lsh,
            similarity.NEAR_DUP_LSH_ORACLE,
        ),
        # IVF path, fixed centroids (corpus rows [100, 116)), nearest-list
        # assignment, nearest-nprobe probes: the oracle-checkable twin of
        # similarity_topk_ivf_trained.
        "similarity_topk_ivf": (similarity.topk_ivf, similarity.TOPK_IVF_ORACLE),
        # IVF path, fixed centroids, the SPANN replication rule as the
        # list assignment — nearest list + every list within the
        # (1+eps)^2 closeness bound of the nearest gap, capped at
        # SPANN_RMAX closest-first, nearest ALWAYS kept — hash-verifying
        # the rule similarity_topk_ivf_spann serves. The RMAX tie cut is
        # pinned by a constructed equi-gap fixture the organic float64
        # data never hits.
        "similarity_topk_ivf_spann_fixed": (
            similarity.topk_ivf_spann_fixed,
            similarity.TOPK_IVF_SPANN_FIXED_ORACLE,
        ),
        # IVF path, fixed centroids, the (1+eps)^2 adaptive probe-width
        # rule the trained IVF-PQ serves as the probe selection, in a
        # window formulation — hash-verifies the rule's width clamp, tie
        # order and the deployed eps (IVFPQ_PROBE_EPS).
        "similarity_topk_ivf_adaptive": (
            similarity.topk_ivf_adaptive,
            similarity.TOPK_IVF_ADAPTIVE_ORACLE,
        ),
        "multimodal_metadata": (multimodal.media_metadata, multimodal.MEDIA_METADATA_ORACLE),
        "events_rollup": (
            relational_ext.events_rollup,
            relational_ext.EVENTS_ROLLUP_ORACLE,
        ),
        "purchase_asof_view": (
            relational_ext.purchase_asof_view,
            relational_ext.PURCHASE_ASOF_ORACLE,
        ),
        "event_props_json": (
            relational_ext.event_props_stats,
            relational_ext.EVENT_PROPS_ORACLE,
        ),
        "distinct_users_daily": (
            relational_ext.distinct_users_daily,
            relational_ext.DISTINCT_USERS_ORACLE,
        ),
        # HLL sketch: estimates are engine-specific -> rows-only check;
        # tests/test_relational_ext.py bounds the error vs the exact twin.
        "approx_distinct_users_daily": (
            relational_ext.approx_distinct_users_daily,
            None,
        ),
        "segment_customer_setops": (
            relational_ext.segment_customer_setops,
            relational_ext.SETOPS_ORACLE,
        ),
        "contamination_check": (dedup.contamination_check, dedup.CONTAMINATION_ORACLE),
        "dedup_clusters": (dedup.dedup_clusters, dedup.DEDUP_CLUSTERS_ORACLE),
        "dedup_ngram_jaccard": (dedup.ngram_jaccard_pairs, dedup.NGRAM_JACCARD_ORACLE),
        "dedup_exact": (dedup.exact_dedup, dedup.EXACT_DEDUP_ORACLE),
        "revenue_by_nation": (
            analytics.revenue_by_nation,
            analytics.REVENUE_BY_NATION_ORACLE,
        ),
        "pricing_summary": (analytics.pricing_summary, analytics.PRICING_SUMMARY_ORACLE),
        "top_orders_per_customer": (
            analytics.top_orders_per_customer,
            analytics.TOP_ORDERS_ORACLE,
        ),
        "shipping_priority": (
            analytics.shipping_priority,
            analytics.SHIPPING_PRIORITY_ORACLE,
        ),
        "text_quality_score": (textops.quality_score, textops.QUALITY_ORACLE),
        "text_token_counts": (textops.token_counts, textops.TOKEN_COUNTS_ORACLE),
        # The micro-batch trip twin is retired and deleted: the real trip
        # stream's carry across 2 and 4 checkpoint restarts is pinned
        # bit-identical to airport_trips_parity in
        # tests/test_streaming_trips.py.
        # Generic gap sessionization via Spark's native session_window
        # (batch surface; streaming twin in streaming/sessions.py).
        "events_session_window": (sessions.session_agg, sessions.SESSION_AGG_ORACLE),
        # C4-style cross-document span dedup stats and the Gopher per-rule
        # quality gate.
        "text_span_dedup": (dedup.span_dedup_stats, dedup.SPAN_DEDUP_ORACLE),
        "text_gopher_rules": (textops.gopher_rules, textops.GOPHER_RULES_ORACLE),
        "embedding_quantize_int8": (
            similarity.embedding_quantize_int8,
            similarity.EMBEDDING_QUANTIZE_ORACLE,
        ),
        "events_funnel": (temporal.events_funnel, temporal.EVENTS_FUNNEL_ORACLE),
        "events_cohort_retention": (
            temporal.events_cohort_retention,
            temporal.EVENTS_COHORT_ORACLE,
        ),
        # Rule 1b, round 10: PQ ANN — ADC scan over 4-byte sign-pattern
        # codes (64x vector compression), two-phase shortlist, exact
        # re-rank. The memory half of IVF-PQ; codebooks are one exact
        # fixed-point aggregation so the oracle reproduces them.
        "similarity_topk_pq": (similarity.topk_pq, similarity.TOPK_PQ_ORACLE),
        # Rule 1b, round 10: real audio — RIFF/WAVE PCM parse (chunk walk,
        # pad bytes, fmt validation, 8/16-bit decode), floor-index
        # resample, integer energy features; closed-form oracle from
        # doc_id. Completes the audio modality that was metadata-only.
        "multimodal_real_wav": (multimodal.media_real_wav, multimodal.MEDIA_REAL_WAV_ORACLE),
        # similarity_topk_ivfpq RETIRED round 13 (size policy's sixth
        # exercise, VERDICT r12 order 1): the trained twin carries the
        # gate rows at 4.1x the sf1 wall; its output is served
        # bit-identically by similarity_topk_ivfpq_fixed below (which
        # carries TOPK_IVFPQ_ORACLE), and tests/test_similarity_pq.py::
        # test_ivfpq_matches_oracle_post_retirement /
        # test_ivfpq_recall_and_plan pin the per-list-books parity,
        # recall and plan floor on that twin. Its slot went to
        # ann_append_serving below.
        # NEW round 13: the incremental-add contract served end-to-end —
        # a derived base snapshot is indexed once, the appended corpus
        # declares its lineage (ann_base.json) and serves flat trained-PQ
        # top-k through FROZEN base models with an O(delta) encode of the
        # appended tail only (the FAISS train/add split, driver-visible).
        # K-means -> rows-only; frozen-model + searchability contracts
        # pinned by the KMeans-poison test in tests/test_ann_index.py.
        "ann_append_serving": (similarity.ann_append_serving, None),
        # NEW round 14 (slot freed by retiring fn_distance): the SAME
        # append contract — 90% watermark derivation, ann_base.json
        # lineage, frozen base models, O(delta) encode, base+delta codes
        # union — under DETERMINISTIC sign-orthant books, so the union/
        # watermark/frozen-base semantics themselves hash-verify against
        # a full DuckDB oracle (VERDICT r13 order 1: the logic the
        # k-means twin's rows-only row cannot see).
        "ann_append_serving_fixed": (
            similarity.ann_append_serving_fixed,
            similarity.ANN_APPEND_FIXED_ORACLE,
        ),
        # Rule 1b, round 10: residual IVF-PQ under the TRAINED coarse
        # quantizer — k-means centroids served through the single PQ
        # pipeline (README lever 2). Training is not SQL-expressible ->
        # rows-only, like similarity_topk_ivf_trained; recall bounded vs
        # brute force in tests/test_similarity_pq.py, and the
        # fixed-centroid similarity_topk_ivfpq_fixed hash-verifies the
        # serving plan.
        # Takes the registry's LAST free slot (92/92 = MAX_REGISTRY):
        # any further addition requires retiring from the ranked list in
        # the module docstring.
        "similarity_topk_ivfpq_trained": (similarity.topk_ivfpq_trained, None),
        # NEW round 16 (VERDICT r15 order 1): the trained IVF-PQ serving
        # plan (persisted flat codes filtered to the probe union, the
        # driver-built per-(query, probed list) query side, the exact
        # re-rank over the corpus) under deterministic per-list
        # sign-orthant books, so TOPK_IVFPQ_ORACLE hash-verifies the
        # serving layer the trained path can only rows-check.
        "similarity_topk_ivfpq_fixed": (
            similarity.topk_ivfpq_fixed,
            similarity.TOPK_IVFPQ_ORACLE,
        ),
        # Rule 1b, late round 10 (slot freed by retiring text_language_id):
        # real video — RIFF/AVI container parse (chunk walk, avih/strl/
        # BITMAPINFOHEADER + palette validation, movi frame collection
        # with foreign-stream skipping, idx1 cross-check), bottom-up
        # stride-padded 8-bit DIB decode through a non-identity palette,
        # floor-index frame sampling, integer pixel features; closed-form
        # oracle from doc_id. Completes the video modality to parity with
        # audio (real WAV) and images (PNG/GIF/JPEG).
        "multimodal_real_avi": (multimodal.media_real_avi, multimodal.MEDIA_REAL_AVI_ORACLE),
    }
    # Impose the driver-window ordering: HEAD first (in order), then the
    # tail in definition order. A HEAD name missing from specs (or vice
    # versa a malformed HEAD) fails loudly here rather than silently
    # shifting the window.
    ordered = {n: specs[n] for n in HEAD}
    ordered.update((n, s) for n, s in specs.items() if n not in ordered)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _specs().items() if sql is not None}
