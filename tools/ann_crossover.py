"""Measure the bruteforce -> quantized crossover (VERDICT r11 order 2).

Round 11 claimed "the crossover sits near n~10^6 at local[32]" from two
points (n=2k, 20k). This tool MEASURES it: it derives embeddings-only
corpora at n = 200k (and optionally larger) with the same
orthogonality-preserving mutation the gate's sf1 derivation uses
(tools/make_scale_data.py: replica-keyed coordinate permutation x
diagonal +-1 sign flip — intra-replica cosines exact, cross-replica
cosines collapse, so true-neighbor structure stays organic instead of
replica-quadratic), then times the ANN family warm (persisted index
artifacts, Spark caches cleared between runs, min-of-2 — the bench.py
protocol).

Only embeddings.parquet is derived: every query timed here reads just
that table, and the index-artifact fingerprint keys on it alone. Query
vectors (vec_id < 10) live in replica 0 only, so the probe set stays
fixed while the corpus scales — the realistic serving shape.

Usage: python tools/ann_crossover.py [factor ...]   (default: 10 100)
Writes derived corpora under <repo>/.scale_data/xover_f{factor}/ and
prints one markdown table row per (corpus, query) plus a JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.make_scale_data import OFF, _mutate_embedding  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"

QUERIES = ["similarity_topk_bruteforce", "similarity_topk_pq_trained",
           "similarity_topk_ivfpq_trained"]


def derive(factor: int) -> str:
    dst = os.path.join(REPO, ".scale_data", f"xover_f{factor}")
    out_path = os.path.join(dst, "embeddings.parquet")
    t = pq.read_table(f"{SRC}/embeddings.parquet")
    if os.path.isfile(out_path):
        if pq.read_metadata(out_path).num_rows == t.num_rows * factor:
            return dst
    os.makedirs(dst, exist_ok=True)
    parts = []
    for r in range(factor):
        cols = {
            "vec_id": pc.add(
                t.column("vec_id"), pa.scalar(r * OFF["D"], t.column("vec_id").type)
            )
        }
        if r > 0:
            cols["embedding"] = _mutate_embedding(t.column("embedding"), r)
        parts.append(
            pa.table(
                {n: cols.get(n, t.column(n)) for n in t.schema.names},
                schema=t.schema,
            )
        )
    pq.write_table(pa.concat_tables(parts), out_path)
    return dst


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _scan_bytes_since(spark, after_id: int) -> "tuple[int, int]":
    """(scan_bytes, max_sql_id): total ``size of files read`` over the
    parquet Scan nodes of every SQL execution with id > ``after_id``,
    from the live UI's REST API (the tool enables the UI on its own
    session). Deltas around a query give MEASURED file bytes opened by
    its scans — turning the crossover's '64x fewer corpus bytes' from
    arithmetic into a recorded column (VERDICT r12 order 7).

    Semantics, stated honestly: this is the size of the FILES the scans
    read, the right currency for 'how much corpus does a query touch'.
    Stage-level ``inputBytes`` would be bytes-after-column-pruning but
    reads 0 for the local vectorized parquet path (measured: a 3.8 MiB
    full-column scan reported 2 KB), so file-size-read is the
    strongest measurable signal here."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return -1, after_id
    apps = json.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    app_id = apps[0]["id"]
    sqls = json.load(
        urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/sql"
            "?details=true&planDescription=false&length=100000"
        )
    )
    total, mx = 0, after_id
    for q in sqls:
        if q["id"] <= after_id:
            continue
        mx = max(mx, q["id"])
        for node in q.get("nodes", []):
            if not node.get("nodeName", "").startswith("Scan"):
                continue
            for m in node.get("metrics", []):
                if m["name"] == "size of files read":
                    num, unit = m["value"].split()
                    total += int(float(num) * _SIZE_UNITS[unit])
    return total, mx


def batch1(factors: "list[int]") -> None:
    """The single-query serving regime (VERDICT r13 order 5): every
    crossover number batches 10 queries, which makes the probed-list
    union cover ~all posting lists and hides any per-query locality a
    clustered corpus layout could exploit. This mode re-times the two
    trained serving paths with the query set patched to ONE vector
    (vec_id < 1; separate ``queries_n1`` artifact, shared books/codes),
    recording wall + measured scan bytes next to the batch-10 row — the
    measurement that decides whether the coarse-list layout lever is
    worth implementing."""
    from mapreduce_hadoop_spark import registry
    from mapreduce_hadoop_spark.operators import similarity
    from mapreduce_hadoop_spark.session import get_spark, unpersist_intermediates

    spark = get_spark("ann-batch1", extra_conf={"spark.ui.enabled": "true"})
    spark.range(1).count()
    queries = registry.queries()
    out: dict[str, dict[str, dict]] = {}
    for factor in factors:
        sf_dir = derive(factor)
        tag = f"n={factor * 2000}"
        out[tag] = {}
        for name in ("similarity_topk_pq_trained", "similarity_topk_ivfpq_trained"):
            for batch, nq in (("batch10", similarity.N_QUERIES), ("batch1", 1)):
                old = similarity.N_QUERIES
                similarity.N_QUERIES = nq
                try:
                    # warm (artifacts + plan), untimed
                    spark.catalog.clearCache()
                    unpersist_intermediates()
                    queries[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best, bytes_read = float("inf"), -1
                    cursor = _scan_bytes_since(spark, -1)[1]
                    for _ in range(2):
                        spark.catalog.clearCache()
                        unpersist_intermediates()
                        t0 = time.time()
                        queries[name](spark, sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        best = min(best, time.time() - t0)
                        bytes_read, cursor = _scan_bytes_since(spark, cursor)
                finally:
                    similarity.N_QUERIES = old
                out[tag][f"{name}/{batch}"] = {
                    "sec": round(best, 2),
                    "mb_scanned": round(bytes_read / 1e6, 1),
                }
                print(
                    f"| {tag} | {name} | {batch} | {round(best, 2)} s | "
                    f"{bytes_read / 1e6:.1f} MB scanned |",
                    flush=True,
                )
    print(json.dumps({"batch1": out}))


def main() -> None:
    if "--batch1" in sys.argv[1:]:
        batch1([int(a) for a in sys.argv[1:] if a != "--batch1"] or [500])
        return
    factors = [int(a) for a in sys.argv[1:]] or [10, 100]
    from mapreduce_hadoop_spark import registry
    from mapreduce_hadoop_spark.operators import similarity
    from mapreduce_hadoop_spark.session import get_spark, unpersist_intermediates

    spark = get_spark("ann-crossover", extra_conf={"spark.ui.enabled": "true"})
    spark.range(1).count()
    queries = registry.queries()
    results: dict[str, dict[str, float]] = {}
    recalls: dict[str, dict[str, float]] = {}
    bytes_scanned: dict[str, dict[str, int]] = {}
    for factor in factors:
        sf_dir = derive(factor)
        n = factor * 2000
        tag = f"n={n}"
        results[tag] = {}
        recalls[tag] = {}
        bytes_scanned[tag] = {}
        # Warm the index artifacts (train + add) once, untimed — the
        # deployed shape: every session after the first serves warm.
        exact: dict[int, set] = {}
        for name in QUERIES:
            spark.catalog.clearCache()
            unpersist_intermediates()
            rows = queries[name](spark, sf_dir).collect()
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r["query_id"], set()).add(r["vec_id"])
            if name == "similarity_topk_bruteforce":
                exact = got
            else:
                hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
                recalls[tag][name] = round(
                    hits / sum(len(s) for s in exact.values()), 2
                )
        sql_cursor = _scan_bytes_since(spark, -1)[1]
        for name in QUERIES:
            best = float("inf")
            bytes_read = -1
            for _ in range(2):
                spark.catalog.clearCache()
                unpersist_intermediates()
                t0 = time.time()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
                # Bytes are deterministic per warm run (same plan, same
                # artifacts); record the last run's delta.
                bytes_read, sql_cursor = _scan_bytes_since(spark, sql_cursor)
            results[tag][name] = round(best, 2)
            bytes_scanned[tag][name] = bytes_read
            print(f"| {tag} | {name} | {results[tag][name]} s | "
                  f"recall {recalls[tag].get(name, 1.0)} | "
                  f"{bytes_read / 1e6:.1f} MB scanned |", flush=True)
    print(json.dumps({"crossover": results, "recall": recalls,
                      "bytes_scanned": bytes_scanned}))


if __name__ == "__main__":
    main()
