"""Query registry: every implemented operator exposed as a (query, oracle) pair.

Each entry maps a SURVEY.md §2 operator (or north-star extension) to
1. a Spark callable ``(spark, sf_dir) -> DataFrame`` and
2. (where SQL-expressible) a DuckDB oracle SQL string over the same tables.

Column names are aliased identically on both sides — the driver sorts columns
by name before hashing values.

Driver-window rotation policy
-----------------------------
The correctness driver checks only the FIRST ``DRIVER_WINDOW`` registry
entries; the registry holds more. Ordering rule:

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

Registry size policy
--------------------
The driver window is fixed at 50 and the rotation cadence is 2 rounds,
so the policy bound "no query goes more than one round without a driver
row" is satisfiable only while

    len(registry) <= 2 * DRIVER_WINDOW - CHANGE_RESERVE

where CHANGE_RESERVE head slots per round are held back for queries that
changed while already carrying a fresh row, plus genuinely new queries
(historically 4-8 per round). ``MAX_REGISTRY`` (= 92) encodes this and
``tests/test_registry_rotation.py`` asserts it: past the cap, adding a
query requires RETIRING one. The registry is at the cap (92/92).

Next retirement candidates, ranked
----------------------------------
When an addition would exceed MAX_REGISTRY, retire from this list; each
entry names where its evidence survives retirement.

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
# the suite the moment the round number moves. A round that does not
# rotate keeps the number.
ROUND = 17

# Rotation rule 1, this round: queries whose code, oracle, or output
# changed and therefore require a fresh driver row. Starts EMPTY at
# rotation time; each commit that changes a query appends it HERE, in
# THAT commit — never before the code lands.
CHANGED_THIS_ROUND: tuple[str, ...] = (
    "similarity_topk_ivf_spann_fixed",
    "similarity_topk_pq_trained",
    "ann_append_serving",
    "corpus_weighted_sample",
    "corpus_train_split",
    "corpus_domain_quota",
    "similarity_topk_ivf",
    "similarity_topk_ivf_trained",
    "dedup_minhash_lsh",
    "similarity_topk_ivf_spann",
    "similarity_topk_pq",
)

# Rule 1a: plan rewrites whose output value-hash is unchanged at every
# gate scale, pinned against regenerated SRCHASH-bound gate logs.
REWRITTEN_HASH_IDENTICAL: tuple[str, ...] = (
    "similarity_topk_ivfpq_fixed",
    "similarity_topk_ivfpq_trained",
    "corpus_clean_stats",
    "similarity_topk_ivf_adaptive",
    "dedup_clusters",
    "dedup_keep_best",
    "text_quality_score",
    "dedup_exact",
    "dedup_exact_normalized",
    "similarity_topk_lsh",
    "dedup_simhash",
    "segment_customer_setops",
    "text_tfidf_top_terms",
    "similarity_near_dup_lsh",
)

# Rule 1b: registered after this round's head filled; no driver row yet.
STAGED_NEXT_ROUND: tuple[str, ...] = ()

# Driver-window head, in order, for ROUND above: the 7-query reference
# surface (always in window), the preceding round's 42 row-carrying tail
# entries (rule 2) and one change slot.
HEAD = (
    # Reference surface (O1-O23) — always in-window.
    "trip_length_histogram",
    "segments_clean_positions",
    "trips_sessionize_window",
    "airport_trips_window",
    "airport_trips_parity",
    "daily_revenue",
    "total_revenue",
    # Tail rotations (rule 2), in the preceding round's definition order.
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
    # Change slot.
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
        # Flat PQ under Lloyd-TRAINED subspace codebooks. Trained-cell ADC
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
        # Baseline-sequential grayscale JPEG pixel decode. Block-constant
        # pattern makes the lossy DCT round-trip exact, so the oracle
        # predicts decoded pixels in closed form
        # (multimodal.py:MEDIA_REAL_JPEG_ORACLE).
        "multimodal_real_jpeg": (
            multimodal.media_real_jpeg,
            multimodal.MEDIA_REAL_JPEG_ORACLE,
        ),
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
        # Batch twin of the event-time-timeout trip stream
        # (the production variant: bounded state, trailing trips flushed at
        # the end-of-input watermark). Deterministic — the flush decision
        # depends only on the final watermark, not on micro-batch splits —
        # but an order-dependent stateful fold, so rows-only; parity rows
        # bit-match the no-timeout path and the flush semantics are pinned
        # in tests/test_streaming_trips.py.
        "airport_trips_timeout": (trips.airport_trips_timeout_batch, None),
        # Corpus-curation sampling trio — derandomized
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
        # Spec-valid PNG/GIF synthesis -> stdlib header
        # decode in one Arrow pass; the oracle predicts dimensions from
        # doc_id, so the hash verifies the REAL byte-level decode path.
        "multimodal_real_roundtrip": (
            multimodal.media_real_roundtrip,
            multimodal.MEDIA_REAL_ROUNDTRIP_ORACLE,
        ),
        # FULL OUTER reconciliation (aggregate-then-join)
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
        # Corpus-level token vocabulary (tokenizer prep);
        # partial combine absorbs the Zipf hot tokens map-side.
        "corpus_vocab_topk": (textops.vocab_topk, textops.VOCAB_TOPK_ORACLE),
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
        "market_segment_balance": (
            analytics.market_segment_balance,
            analytics.MARKET_SEGMENT_ORACLE,
        ),
        "text_fingerprints": (textops.fingerprints, textops.FINGERPRINTS_ORACLE),
        "text_tfidf_top_terms": (textops.tfidf_top_terms, textops.TFIDF_ORACLE),
        "text_document_chunks": (textops.document_chunks, textops.DOCUMENT_CHUNKS_ORACLE),
        "text_repetition_score": (textops.repetition_score, textops.REPETITION_ORACLE),
        "similarity_topk_bruteforce": (
            similarity.topk_bruteforce,
            similarity.TOPK_BRUTEFORCE_ORACLE,
        ),
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
        # PQ ANN — ADC scan over 4-byte sign-pattern
        # codes (64x vector compression), two-phase shortlist, exact
        # re-rank. The memory half of IVF-PQ; codebooks are one exact
        # fixed-point aggregation so the oracle reproduces them.
        "similarity_topk_pq": (similarity.topk_pq, similarity.TOPK_PQ_ORACLE),
        # Real audio — RIFF/WAVE PCM parse (chunk walk,
        # pad bytes, fmt validation, 8/16-bit decode), floor-index
        # resample, integer energy features; closed-form oracle from
        # doc_id. Completes the audio modality that was metadata-only.
        "multimodal_real_wav": (multimodal.media_real_wav, multimodal.MEDIA_REAL_WAV_ORACLE),
        # The incremental-add contract served end-to-end —
        # a derived base snapshot is indexed once, the appended corpus
        # declares its lineage (ann_base.json) and serves flat trained-PQ
        # top-k through FROZEN base models with an O(delta) encode of the
        # appended tail only (the FAISS train/add split, driver-visible).
        # K-means -> rows-only; frozen-model + searchability contracts
        # pinned by the KMeans-poison test in tests/test_ann_index.py.
        "ann_append_serving": (similarity.ann_append_serving, None),
        # The SAME append contract — 90% watermark derivation, ann_base.json
        # lineage, frozen base models, O(delta) encode, base+delta codes
        # union — under DETERMINISTIC sign-orthant books, so the union/
        # watermark/frozen-base semantics themselves hash-verify against
        # a full DuckDB oracle (the logic the k-means twin's rows-only
        # row cannot see).
        "ann_append_serving_fixed": (
            similarity.ann_append_serving_fixed,
            similarity.ANN_APPEND_FIXED_ORACLE,
        ),
        # Residual IVF-PQ under the TRAINED coarse quantizer — k-means
        # centroids served through the single PQ pipeline. Training is not
        # SQL-expressible -> rows-only, like similarity_topk_ivf_trained;
        # recall bounded vs brute force in tests/test_similarity_pq.py, and
        # the fixed-centroid similarity_topk_ivfpq_fixed hash-verifies the
        # serving plan.
        "similarity_topk_ivfpq_trained": (similarity.topk_ivfpq_trained, None),
        # The trained IVF-PQ serving
        # plan (persisted flat codes filtered to the probe union, the
        # driver-built per-(query, probed list) query side, the exact
        # re-rank over the corpus) under deterministic per-list
        # sign-orthant books, so TOPK_IVFPQ_ORACLE hash-verifies the
        # serving layer the trained path can only rows-check.
        "similarity_topk_ivfpq_fixed": (
            similarity.topk_ivfpq_fixed,
            similarity.TOPK_IVFPQ_ORACLE,
        ),
        # Real video — RIFF/AVI container parse (chunk walk, avih/strl/
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
