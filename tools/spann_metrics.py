"""SPANN deployment-metric instrumentation (VERDICT r11 order 4).

Round 11 argued SPANN's real-world win in prose: boundary replication
buys recall with INDEX BYTES while a query still FETCHES only nprobe
posting lists — on SSD-resident lists the fetch count, not the scanned
row count, is the latency driver (Chen et al. 2021, §1: each disk read
is a posting list). This tool turns that caveat into numbers: for each
eps it measures, per query,

- lists_fetched : posting lists read (nprobe, by construction — counted,
  not assumed, as distinct (query, cent_id) probe pairs);
- candidates    : candidate rows scanned inside those lists (pre-dedup —
  what an in-memory scan pays, and what replication inflates);
- distinct_cand : unique vectors among them (post-dedup re-rank input);
- replication   : index rows / corpus rows (the index-bytes cost);
- recall@5 vs topk_bruteforce.

The in-memory trade (candidates grow ~ replication) and the SSD trade
(fetches stay nprobe while recall rises) are then both visible in one
table. Prints markdown rows + a JSON line for SCALE_ann_r12.md.

Usage: python tools/spann_metrics.py [sf_dir ...]
       (default: /root/testdata/sf0.01 /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

EPS_SWEEP = [0.0, 0.05, 0.10, 0.15, 0.25]


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    from mapreduce_hadoop_spark.operators import ann_index, similarity
    from mapreduce_hadoop_spark.session import get_spark
    from mapreduce_hadoop_spark.sources.tables import load_table

    spark = get_spark("spann-metrics")
    out = []
    for sf_dir in dirs:
        emb = similarity._with_norm(load_table(spark, sf_dir, "embeddings"))
        n = ann_index.corpus_count(emb, sf_dir)
        cents_rows = ann_index.coarse_centroids(
            spark, emb, sf_dir, similarity.IVF_K
        )
        exact: dict[int, set] = {}
        for r in similarity.topk_bruteforce(spark, sf_dir).collect():
            exact.setdefault(r["query_id"], set()).add(r["vec_id"])
        nprobe = similarity.IVF_NPROBE
        probes = similarity._arrow_probes(emb, cents_rows)
        for eps in EPS_SWEEP:
            # The served plan of topk_ivf_spann, with eps swept.
            lists = similarity._spann_lists(emb, cents_rows, eps)
            index_rows = lists.count()
            pairs = similarity._probe_pairs(lists, probes)
            stats = pairs.agg(
                F.count(F.lit(1)).alias("cand"),
                F.countDistinct("query_id", "vec_id").alias("dcand"),
                F.countDistinct("query_id", "cent_id").alias("fetches"),
            ).collect()[0]
            q_n = similarity.N_QUERIES
            top = similarity._rank(pairs, dedup=True).collect()
            got: dict[int, set] = {}
            for r in top:
                got.setdefault(r["query_id"], set()).add(r["vec_id"])
            hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
            recall = round(hits / sum(len(s) for s in exact.values()), 2)
            row = {
                "sf_dir": os.path.basename(sf_dir.rstrip("/")),
                "n": n,
                "K": similarity.IVF_K,
                "nprobe": nprobe,
                "eps": eps,
                "recall": recall,
                "replication": round(index_rows / n, 2),
                "lists_fetched_per_query": round(stats["fetches"] / q_n, 1),
                "candidates_per_query": round(stats["cand"] / q_n, 1),
                "distinct_cand_per_query": round(stats["dcand"] / q_n, 1),
                "candidate_frac": round(stats["cand"] / q_n / n, 3),
            }
            out.append(row)
            print(
                f"| {row['sf_dir']} | {eps:.2f} | {recall:.2f} | "
                f"{row['replication']:.2f}x | {row['lists_fetched_per_query']} | "
                f"{row['candidates_per_query']} ({row['candidate_frac']:.0%}) | "
                f"{row['distinct_cand_per_query']} |",
                flush=True,
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
