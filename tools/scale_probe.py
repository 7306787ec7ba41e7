"""Spark-only scale probe: time registry queries at two derived scales.

Produced SCALE_sf10_r5.md / SCALE_sf10_r6.md. Usage:

    python tools/make_scale_data.py 100 /root/testdata/sf0.1 .scale_data/sf10
    python tools/scale_probe.py [sf_dir_a] [sf_dir_b]

    # pair family, on MUTATED derivations (organic similarity structure):
    python tools/make_scale_data.py 10  /root/testdata/sf0.1 .scale_data/sf1mut --mutate
    python tools/make_scale_data.py 100 /root/testdata/sf0.1 .scale_data/sf10mut --mutate
    python tools/scale_probe.py --pairs [sf1mut_dir] [sf10mut_dir]

Defaults to .scale_data/sf1 vs .scale_data/sf10 (sf1mut/sf10mut with
--pairs). Every query is forced through the `noop` sink — NEVER time with
``df.count()``: Catalyst prunes unevaluated projections under a bare
count, which zeroes the cost of map-only operators (a first probe
reported 0.26 s for an operator whose true cost was 29 s).

Pair-generation queries are excluded from the DEFAULT mode because on
key-shift-replicated data true pair count grows with replication^2
(output-bound by data shape, not plan shape). ``--pairs`` probes them on
--mutate derivations, where replica-keyed content transforms keep
intra-replica similarity exact and push cross-replica similarity toward
baseline, so pair counts grow ~linearly for the tight-threshold family
(Jaccard >= 0.5: measured 4.01x at factor 4, 10.10x at factor 10).
Loose-threshold operators are different IN SEMANTICS, not plan: at
cos >= 0.4 in 64 dims the random-direction tail P(cos > 0.4) ~ 7e-4
makes ANY same-distribution corpus's true pair set ~n^2 * 7e-4, and
simhash hamming<=6/32 behaves alike on a 31-type vocabulary — so for
those two the probe ALSO runs a strict-threshold diagnostic variant
(cos >= 0.8 / hamming <= 2) whose output is tight again, isolating plan
scaling from output scaling. --pairs reports rows alongside seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_hadoop_spark import registry  # noqa: E402
from mapreduce_hadoop_spark.operators import dedup  # noqa: E402
from mapreduce_hadoop_spark.session import get_spark, unpersist_intermediates  # noqa: E402

LINEAR_PATH_QUERIES = [
    "trip_length_histogram", "segments_clean_positions", "trips_sessionize_window",
    "airport_trips_parity", "daily_revenue", "total_revenue", "pricing_summary",
    "revenue_by_nation", "shipping_priority", "top_orders_per_customer",
    "events_cube", "events_tumbling_window", "events_session_window",
    "events_keyed_dedup", "events_funnel", "events_cohort_retention",
    "views_before_purchase_range_join", "purchase_asof_view", "corpus_vocab_topk",
    "corpus_pack_sequences", "corpus_domain_mix", "text_quality_score",
    "text_token_counts", "text_gopher_rules", "text_span_dedup", "text_pii_scrub",
    "text_repetition_score", "contamination_check", "dedup_exact",
    "dedup_exact_normalized", "embedding_quantize_int8",
    "similarity_topk_bruteforce", "similarity_topk_ivf", "multimodal_real_resize",
]


def _pair_variants():
    """(name, builder) for the pair family + strict-threshold diagnostics.

    The strict variants monkeypatch the loose thresholds for THIS process
    only — diagnostic instrumentation, never registry semantics.
    """
    from mapreduce_hadoop_spark.operators import similarity

    yield "dedup_ngram_jaccard", dedup.ngram_jaccard_pairs
    yield "dedup_minhash_lsh", dedup.minhash_lsh_pairs
    yield "dedup_simhash", dedup.simhash_pairs
    yield "similarity_near_dup_lsh", similarity.near_dup_cosine_lsh

    def simhash_strict(spark, d):
        old = dedup.HAMMING_MAX
        dedup.HAMMING_MAX = 2
        try:
            return dedup.simhash_pairs(spark, d)
        finally:
            dedup.HAMMING_MAX = old

    def emb_strict(spark, d):
        old = similarity.NEAR_DUP_COS
        similarity.NEAR_DUP_COS = 0.8
        try:
            return similarity.near_dup_cosine_lsh(spark, d)
        finally:
            similarity.NEAR_DUP_COS = old

    yield "dedup_simhash[hamming<=2]", simhash_strict
    yield "similarity_near_dup_lsh[cos>=0.8]", emb_strict


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pairs_mode = "--pairs" in sys.argv[1:]
    args = [a for a in sys.argv[1:] if a != "--pairs"]
    suffix = "mut" if pairs_mode else ""
    dir_a = args[0] if len(args) > 0 else f"{repo}/.scale_data/sf1{suffix}"
    dir_b = args[1] if len(args) > 1 else f"{repo}/.scale_data/sf10{suffix}"
    spark = get_spark("scale-probe")
    out: dict[str, dict[str, float]] = {}
    if pairs_mode:
        worklist = list(_pair_variants())
    else:
        qs = registry.queries()
        worklist = [(n, qs[n]) for n in LINEAR_PATH_QUERIES]
    for name, fn in worklist:
        row: dict[str, float] = {}
        for label, d in [("a", dir_a), ("b", dir_b)]:
            df = fn(spark, d)
            t = time.time()
            if pairs_mode:
                # Pair outputs are the scaling claim — count AND time.
                # (count() cannot prune here: every pair row survives the
                # jaccard/cosine/hamming filter, which forces the plan.)
                row[f"rows_{label}"] = df.count()
                unpersist_intermediates()
                spark.catalog.clearCache()
                df = fn(spark, d)
                t = time.time()
            df.write.format("noop").mode("overwrite").save()
            unpersist_intermediates()
            spark.catalog.clearCache()
            row[label] = round(time.time() - t, 2)
        row["ratio"] = round(row["b"] / max(row["a"], 0.01), 1)
        if pairs_mode:
            row["rows_ratio"] = round(row["rows_b"] / max(row["rows_a"], 1), 1)
        out[name] = row
        print(name, row, flush=True)
    print("JSON:" + json.dumps(out))


if __name__ == "__main__":
    main()
