"""PQ ANN: recall vs the exact baseline, codebook exactness, plan shape."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from mapreduce_hadoop_spark.operators.similarity import (
    N_QUERIES,
    PQ_CODE_BITS,
    PQ_M,
    PQ_SUB,
    TOP_K,
    _pq_code,
    _with_norm,
    load_table,
    topk_bruteforce,
    topk_pq,
    unpersist_intermediates,
)


def test_pq_recall_vs_bruteforce(spark, sf_dir):
    exact = topk_bruteforce(spark, sf_dir).collect()
    approx = topk_pq(spark, sf_dir).collect()
    unpersist_intermediates()

    exact_sets: dict = {}
    approx_sets: dict = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    assert set(approx_sets) == set(range(N_QUERIES))
    # Every query returns exactly TOP_K ranked rows.
    assert all(len(s) == TOP_K for s in approx_sets.values())
    # Mean recall@5 of the sign-pattern codebook + 50-deep exact re-rank
    # (measured 0.76 at the sf0.001 fixture, 0.86 at sf0.01; random
    # expectation is TOP_K/n ~ 0.01).
    hits = sum(len(exact_sets[q] & approx_sets[q]) for q in exact_sets)
    total = sum(len(exact_sets[q]) for q in exact_sets)
    recall = hits / total
    assert recall >= 0.6, f"PQ recall@5={recall:.2f}"


def test_pq_codebook_centroid_is_exact_fixed_point(spark, sf_dir):
    """The (m=0, code) centroid must equal the numpy fixed-point mean of the
    normalized subvectors assigned to that code — byte-exact, not approx."""
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    nvt = emb.select(
        "vec_id", F.transform(F.col("v"), lambda x: x / F.col("norm")).alias("nv")
    )
    rows = nvt.select("vec_id", "nv", _pq_code(F.col("nv"), 0).alias("c0")).collect()
    # Rebuild the m=0 codebook the way topk_pq's aggregation does.
    by_code: dict = {}
    for r in rows:
        sub = np.asarray(r["nv"][:PQ_SUB], dtype=np.float64)
        code = 0
        for j in range(PQ_CODE_BITS):
            if sub[j] >= 0.0:
                code |= 1 << j
        assert code == r["c0"], f"vec {r['vec_id']}: python {code} != spark {r['c0']}"
        by_code.setdefault(code, []).append(sub)

    # Spark-side centroids via the same groupBy the operator uses.
    cb = (
        nvt.select(_pq_code(F.col("nv"), 0).alias("code"), F.col("nv"))
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.expr(f"cast(floor(element_at(nv, {d}) * 1e9 + 0.5D) as bigint)")
                ).alias(f"s{d}")
                for d in range(1, PQ_SUB + 1)
            ],
        )
        .collect()
    )
    for r in cb:
        subs = by_code[r["code"]]
        assert r["n"] == len(subs)
        for d in range(PQ_SUB):
            expected = int(sum(int(np.floor(s[d] * 1e9 + 0.5)) for s in subs))
            assert r[f"s{d + 1}"] == expected, (r["code"], d)


def test_pq_plan_shape(spark, sf_dir):
    """The ADC scan must be broadcast-only against the corpus: no
    sort-merge join, no cartesian product anywhere. The nested-loop joins
    are all BOUNDED broadcasts (queries x codebook for the ADC build,
    the <= N_QUERIES-row per-query lookup-array relation for the scan
    fan-out); the re-rank joins broadcast-hash."""
    df = topk_pq(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    unpersist_intermediates()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan, "scan fan-out must broadcast"
    assert plan.count("BroadcastHashJoin") >= 2, "re-rank must broadcast-hash"


def test_ivfpq_recall_and_plan(spark, sf_dir, tmp_path, monkeypatch):
    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import topk_ivfpq_fixed

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    try:
        exact = topk_bruteforce(spark, sf_dir).collect()
        df = topk_ivfpq_fixed(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        approx = df.collect()
    finally:
        unpersist_intermediates()
        ann_index.clear_memos()

    # IVF pruning caps recall at the fixed-centroid nprobe=8 ceiling
    # (0.78 at sf0.001, 0.74 at sf0.01, 0.74 at sf0.1); residual encoding
    # with per-list books + the scale-adaptive n/10 shortlist keeps the
    # composition at/near that ceiling (measured: 0.78 / 0.72 / 0.72; the
    # r10 no-residual variant measured 0.72/0.72, a global-residual book
    # 0.56, and the pre-fix FIXED 50-deep shortlist 0.40 at sf0.1).
    exact_sets: dict = {}
    approx_sets: dict = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(exact_sets[q]) for q in exact_sets)
    assert hits / total >= 0.6, f"IVF-PQ recall@5={hits / total:.2f}"

    # Corpus-side joins must all be broadcast: the cent_id probe-filter
    # join (which also delivers the per-query ADC lookup arrays) +
    # re-rank; no sort-merge join, no cartesian anywhere.
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_ivfpq_trained_recall(spark, sf_dir):
    """The K=sqrt(n) trained coarse quantizer + the round-11 GLOBAL
    Lloyd-trained residual book drop into the identical residual IVF-PQ
    plan; measured recall@5 0.76/0.74/0.80/1.00 at sf0.001/0.01/0.1/sf1
    vs the fixed-K sign-orthant twin's 0.78/0.72/0.72 — at/near the
    nprobe pruning ceiling everywhere, now with a NEAR-CONSTANT re-rank
    (max(100, n/100)) instead of n/10. Curve in 48705ef:SCALE_ann_r11.md."""
    from mapreduce_hadoop_spark.operators.similarity import topk_ivfpq_trained

    exact = topk_bruteforce(spark, sf_dir).collect()
    approx = topk_ivfpq_trained(spark, sf_dir).collect()
    unpersist_intermediates()

    exact_sets: dict = {}
    approx_sets: dict = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert all(len(s) == TOP_K for s in approx_sets.values())
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(exact_sets[q]) for q in exact_sets)
    assert hits / total >= 0.6, f"trained IVF-PQ recall@5={hits / total:.2f}"


def test_pq_shortlist_law():
    """max(50, n // 10): the floor covers the fixtures where 50 = n/10
    already holds recall (n=500 -> 0.86); past it the linear law binds
    (n=2000 -> 200, the measured 0.82 point)."""
    from mapreduce_hadoop_spark.operators.similarity import _pq_shortlist

    assert _pq_shortlist(10) == 50
    assert _pq_shortlist(500) == 50
    assert _pq_shortlist(2000) == 200
    assert _pq_shortlist(20000) == 2000


def test_pq_trained_recall_vs_bruteforce(spark, sf_dir):
    """Lloyd-trained subspace codebooks at a NEAR-CONSTANT shortlist
    (max(50, n/100)) must clear the recall bar the sign-orthant twin
    needs n/10 re-rank depth for: measured recall@5 1.00 / 1.00 / 0.80 /
    1.00 at sf0.001 / 0.01 / 0.1 / sf1 (the sign-orthant twin at its
    LINEAR n/10 depth: 0.76 / 0.86 / 0.82) — trained-cell ADC distortion
    falls as data fills the cells, the sign-orthant scheme's is a
    constant of the coding, so only the trained books hold recall as the
    re-rank depth stops growing with n. Curve in 48705ef:SCALE_ann_r11.md."""
    from mapreduce_hadoop_spark.operators.similarity import topk_pq_trained

    exact = topk_bruteforce(spark, sf_dir).collect()
    approx = topk_pq_trained(spark, sf_dir).collect()
    unpersist_intermediates()

    exact_sets: dict = {}
    approx_sets: dict = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(approx_sets) == set(range(N_QUERIES))
    assert all(len(s) == TOP_K for s in approx_sets.values())
    hits = sum(len(exact_sets[q] & approx_sets[q]) for q in exact_sets)
    total = sum(len(exact_sets[q]) for q in exact_sets)
    recall = hits / total
    assert recall >= 0.8, f"trained PQ recall@5={recall:.2f}"


def test_pq_trained_plan_shape(spark, sf_dir):
    """Trained books must not change the serving plan: broadcast-only
    against the corpus (M=8 ADC lookups + re-rank all broadcast-hash),
    no sort-merge join, no cartesian; encoding is one Arrow-batched
    map-only UDF stage."""
    from mapreduce_hadoop_spark.operators.similarity import (
        PQ_TRAINED_M,
        topk_pq_trained,
    )

    df = topk_pq_trained(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    unpersist_intermediates()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan, "scan fan-out must broadcast"
    assert plan.count("BroadcastHashJoin") >= 2, "re-rank must broadcast-hash"
    # Cold corpus: Arrow-batched encode UDF. Warm: the codes ARTIFACT
    # (the FAISS `add` half) — a plain pruned parquet scan, no Python at
    # all in the scan path. Either is the intended shape; never a
    # row-at-a-time PythonUDF.
    assert "ArrowEvalPython" in plan or "codes_nv" in plan, (
        "PQ codes must come from the Arrow encoder or the persisted artifact"
    )
    assert "BatchEvalPython" not in plan, "no row-at-a-time Python in the plan"


def test_trained_shortlist_laws():
    """Near-constant re-rank depth under trained books: flat PQ floors at
    50, residual IVF-PQ at 100 (residual ADC noise compounds coarse-
    assignment boundary effects — measured 0.60 at depth 50 vs 0.72 = the
    pruning ceiling at depth 100); both then grow only as n/100."""
    from mapreduce_hadoop_spark.operators.similarity import (
        _pq_trained_ivf_shortlist,
        _pq_trained_shortlist,
    )

    assert _pq_trained_shortlist(500) == 50
    assert _pq_trained_shortlist(2000) == 50
    assert _pq_trained_shortlist(20000) == 200
    assert _pq_trained_ivf_shortlist(500) == 100
    assert _pq_trained_ivf_shortlist(2000) == 100
    assert _pq_trained_ivf_shortlist(20000) == 200


def test_ivfpq_trained_plan_shape(spark, sf_dir):
    """The deployed serving plan must stay broadcast-only against the
    corpus even under the K=sqrt(n) trained quantizer: no sort-merge
    join, no cartesian product; the cent_id probe-filter join (carrying
    the per-query ADC lookup arrays) + re-rank all broadcast."""
    from mapreduce_hadoop_spark.operators.similarity import topk_ivfpq_trained

    df = topk_ivfpq_trained(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    unpersist_intermediates()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_shortlist_topr_two_phase_equivalence(spark):
    """The adaptive switch must be INVISIBLE in output: for random scored
    relations (with adc ties, the hard case), the bucketed two-phase
    shortlist and the single-window form return identical row sets."""
    import random

    from mapreduce_hadoop_spark.operators.similarity import _shortlist_topr

    rng = random.Random(17)
    rows = [
        (q, v, float(rng.choice([0.1, 0.2, 0.3, rng.random()])))
        for q in range(4)
        for v in rng.sample(range(5000), 400)
    ]
    scored = spark.createDataFrame(rows, "query_id int, vec_id int, adc double")
    for shortlist in (5, 37, 64, 400):
        one = _shortlist_topr(scored, shortlist, candidates_per_query=400)
        two = _shortlist_topr(scored, shortlist, candidates_per_query=None)
        a = sorted(map(tuple, one.collect()))
        b = sorted(map(tuple, two.collect()))
        assert a == b, f"shortlist={shortlist}: {len(a)} vs {len(b)} rows"


def test_driver_side_query_prep_is_bit_identical(spark, sf_dir):
    """Round-12 stage fusion moved the query side (normalized query
    vectors, ADC lookup arrays, probe assignment) to the driver. The
    fusion reorders STAGES, not arithmetic: every driver-built value must
    equal the JVM formulation it replaced BIT FOR BIT."""
    import math

    from mapreduce_hadoop_spark.operators.similarity import (
        _adc_arrays_np,
        _assign_arrow_udf,
        _assign_topn_np,
        _query_nv_rows,
        _strict_dot,
    )

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    # 1. Normalized query vectors vs the JVM transform(v, x/norm).
    jvm = {
        r["vec_id"]: list(r["nv"])
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            "vec_id",
            F.transform(F.col("v"), lambda x: x / F.col("norm")).alias("nv"),
        )
        .collect()
    }
    drv = dict(_query_nv_rows(emb, sf_dir))
    assert set(drv) == set(jvm)
    for qid in jvm:
        assert drv[qid] == jvm[qid], f"nv mismatch for query {qid}"

    # 2. ADC lookup arrays vs the JVM zip_with/aggregate fold.
    qid, nv = next(iter(sorted(drv.items())))
    m_sub, sub = 2, 4
    books = [(m, c, [0.25 * (m + 1) * (c - j) for j in range(sub)])
             for m in range(m_sub) for c in range(3)]
    arrs = _adc_arrays_np([nv], books, m_sub, sub)
    one = spark.createDataFrame([(nv,)], "nv array<double>")
    for m in range(m_sub):
        for c in range(3):
            cd = dict(((mm, cc), v) for mm, cc, v in books)[(m, c)]
            jvm_t = one.select(
                F.aggregate(
                    F.zip_with(
                        F.slice(F.col("nv"), m * sub + 1, sub),
                        F.array(*[F.lit(x) for x in cd]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("t")
            ).collect()[0]["t"]
            assert arrs[m][0][c] == jvm_t, (m, c)

    # 3. Book cells never emitted by the encoder score +inf (the
    # sparse-artifact trap: a hole must sink to the bottom of the asc
    # shortlist, never float to the top as NULL would).
    sparse = [(0, 0, [0.0] * sub), (1, 2, [0.0] * sub)]  # codes 1..2 of m=0 missing
    holes = _adc_arrays_np([nv], sparse, 2, sub)
    assert holes[0][0][1] == float("inf") and holes[0][0][2] == float("inf")
    assert holes[1][0][0] == float("inf")
    assert math.isfinite(holes[0][0][0])

    # 4. Probe assignment: the driver core IS the UDF core (shared
    # routine), verified end to end against the Arrow UDF's output.
    cents_rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(64)]) for i in range(6)
    ]
    x = np.asarray([v for _, v in sorted(jvm.items())], dtype=np.float64)
    drv_assign = _assign_topn_np(x, cents_rows, 3)
    udf = _assign_arrow_udf(cents_rows, 3)
    jvm_assign = [
        r["a"]
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", udf(F.col("v")).alias("a"))
        .orderBy("vec_id")
        .collect()
    ]
    assert drv_assign == jvm_assign

    # 5. The strict fold twin.
    v = jvm[qid]
    jvm_norm = emb.filter(F.col("vec_id") == qid).collect()[0]["norm"]
    raw = emb.filter(F.col("vec_id") == qid).collect()[0]["v"]
    assert math.sqrt(_strict_dot(list(raw), list(raw))) == jvm_norm
    assert len(v) == len(raw)


def test_pq_trained_warm_plan_is_fused(spark, sf_dir, tmp_path, monkeypatch):
    """The warm serving plan (persisted books + codes + query vectors)
    must contain NO Python evaluation and NO corpus scan on the query
    side: the query relations are driver-built LocalTableScans, codes
    come from the pruned parquet artifact."""
    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import (
        topk_pq_trained,
        unpersist_intermediates,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    try:
        # Cold pass fits + persists the artifacts (books, codes, queries).
        topk_pq_trained(spark, sf_dir).collect()
        unpersist_intermediates()
        ann_index.clear_memos()
        df = topk_pq_trained(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        unpersist_intermediates()
        ann_index.clear_memos()
    assert "ArrowEvalPython" not in plan, "warm plan must not re-encode"
    assert "BatchEvalPython" not in plan
    # Query side is driver-built (createDataFrame renders as an
    # ExistingRDD scan of the request-sized local rows) — the only
    # parquet scans are the codes artifact and the re-rank corpus pass.
    assert "Scan ExistingRDD" in plan, "query side must be driver-built"
    assert "codes_nv" in plan, "scan must read the codes artifact"
    import re

    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 2, scans
    # Exactly two SHUFFLE exchanges: the shortlist window and the final
    # rank window — the stage-fusion contract (was ~12 stages in r11;
    # the detail-header regex never matches BroadcastExchange nodes).
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 2, shuffles


def test_div_by_matches_naive_transform(spark):
    """`_div_by` must be VALUE-identical to the naive
    transform(v, x -> x / scalar) it replaces — same IEEE ops, only the
    scalar's evaluation count changes (the CollapseProject O(d^2) fix)."""
    from mapreduce_hadoop_spark.operators.similarity import _div_by, _dot

    rows = [
        ([(3.0 * i + j * 0.1) * (-1 if j % 3 else 1) for j in range(64)],)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "v array<double>")
    df = df.select("v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("norm"))
    naive = df.select(
        F.transform(F.col("v"), lambda x: x / F.col("norm")).alias("nv")
    ).collect()
    fused = df.select(_div_by("v", "norm").alias("nv")).collect()
    assert [r["nv"] for r in naive] == [r["nv"] for r in fused]


def test_ivfpq_trained_warm_plan_is_fused(spark, sf_dir, tmp_path, monkeypatch):
    """The residual path's warm serving plan carries the same fusion
    contract as the flat path: no Python eval, driver-built query side,
    the codes artifact scan, and exactly two shuffle exchanges."""
    import re

    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import (
        topk_ivfpq_trained,
        unpersist_intermediates,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    try:
        topk_ivfpq_trained(spark, sf_dir).collect()
        unpersist_intermediates()
        ann_index.clear_memos()
        df = topk_ivfpq_trained(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        unpersist_intermediates()
        ann_index.clear_memos()
    assert "ArrowEvalPython" not in plan, "warm plan must not assign/encode"
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, "query side must be driver-built"
    # The codes scan reads the flat codes artifact (codes_res_...); the
    # other parquet scan is the exact re-rank's corpus pass.
    assert "codes_res" in plan, "scan must read a codes artifact"
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2
    # The probe union reaches the codes scan as a pushed row filter.
    assert re.search(r"PushedFilters: \[.*cent_id", plan), plan[:2000]


def test_ivfpq_fixed_twin_is_bit_identical_and_branch_invariant(
    spark, sf_dir, duck, tmp_path, monkeypatch
):
    """``topk_ivfpq_fixed``: the artifact-backed serving plan under
    deterministic books must produce rows BIT-IDENTICAL to the DuckDB
    ``TOPK_IVFPQ_ORACLE`` — cold (artifact build) and warm (artifact
    load) — so the driver's value hash on the twin pins the persisted
    codes and the probe filter."""
    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import (
        TOPK_IVFPQ_ORACLE,
        topk_ivfpq_fixed,
        unpersist_intermediates,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    try:
        ref = sorted(
            (int(q), int(v), float(c), float(a), int(rk))
            for q, v, c, a, rk in duck.execute(TOPK_IVFPQ_ORACLE).fetchall()
        )
        cold = sorted(map(tuple, topk_ivfpq_fixed(spark, sf_dir).collect()))
        unpersist_intermediates()
        ann_index.clear_memos()  # drop memos; disk artifacts remain
        warm = sorted(map(tuple, topk_ivfpq_fixed(spark, sf_dir).collect()))
        unpersist_intermediates()

        assert len(ref) > 0
        assert cold == ref and warm == ref
    finally:
        unpersist_intermediates()
        ann_index.clear_memos()


def test_ivfpq_matches_oracle_post_retirement(
    spark, sf_dir, duck, tmp_path, monkeypatch
):
    """``similarity_topk_ivfpq`` is retired from the registry; the oracle
    parity it carried survives on its serving twin ``topk_ivfpq_fixed``:
    full row-for-row equality against the module's DuckDB oracle — the
    per-list residual books, probe-filter ADC join, and two-phase
    shortlist stay bit-pinned."""
    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import (
        TOPK_IVFPQ_ORACLE,
        topk_ivfpq_fixed,
        unpersist_intermediates,
    )

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    try:
        got = sorted(
            (r["query_id"], r["vec_id"], round(r["cosine"], 6), round(r["adc"], 6), r["rank"])
            for r in topk_ivfpq_fixed(spark, sf_dir).collect()
        )
    finally:
        unpersist_intermediates()
        ann_index.clear_memos()
    want = sorted(
        (int(q), int(v), round(float(c), 6), round(float(a), 6), int(rk))
        for q, v, c, a, rk in duck.execute(TOPK_IVFPQ_ORACLE).fetchall()
    )
    assert got == want


def test_adaptive_shortlist_no_fire_is_bit_identical(spark, sf_dir, tmp_path, monkeypatch):
    """On a corpus where no query's covered-gap signal fires (sf0.001:
    measured covered >= 0.41 vs the 0.38 threshold), the adaptive
    default must reproduce the fixed-floor plan BIT-for-bit — widening
    is spent only where recall is lost."""
    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import topk_pq_trained

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    try:
        adaptive = sorted(map(tuple, topk_pq_trained(spark, sf_dir).collect()))
        fixed = sorted(
            map(tuple, topk_pq_trained(spark, sf_dir, adaptive=False).collect())
        )
        assert adaptive == fixed and len(adaptive) == N_QUERIES * TOP_K
    finally:
        ann_index.clear_memos()


def test_adaptive_shortlist_recovers_clustered_recall(spark, sf_dir, tmp_path, monkeypatch):
    """The order-4 contract on a corpus the fixed floor demonstrably
    loses neighbors on: 4 orthogonally-mutated replicas of the test
    corpus (the gate's own clustered-derivation recipe). The adaptive
    default must beat the fixed floor and clear 0.9 recall@5."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import (
        topk_pq_trained,
    )
    from tools.make_scale_data import OFF, _mutate_embedding

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    src = pq.read_table(f"{sf_dir}/embeddings.parquet")
    parts = []
    for r in range(4):
        cols = {
            "vec_id": pa.compute.add(
                src.column("vec_id"), pa.scalar(r * OFF["D"], src.column("vec_id").type)
            )
        }
        if r > 0:
            cols["embedding"] = _mutate_embedding(src.column("embedding"), r)
        parts.append(
            pa.table(
                {n: cols.get(n, src.column(n)) for n in src.schema.names},
                schema=src.schema,
            )
        )
    corpus = tmp_path / "clustered"
    corpus.mkdir()
    pq.write_table(pa.concat_tables(parts), str(corpus / "embeddings.parquet"))

    try:
        exact: dict = {}
        for r in topk_bruteforce(spark, str(corpus)).collect():
            exact.setdefault(r["query_id"], set()).add(r["vec_id"])

        def recall(adaptive: bool) -> float:
            got: dict = {}
            for r in topk_pq_trained(spark, str(corpus), adaptive=adaptive).collect():
                got.setdefault(r["query_id"], set()).add(r["vec_id"])
            return sum(len(exact[q] & got.get(q, set())) for q in exact) / sum(
                len(s) for s in exact.values()
            )

        fixed, adaptive = recall(False), recall(True)
        assert adaptive >= 0.9, (fixed, adaptive)
        assert adaptive >= fixed, (fixed, adaptive)
    finally:
        ann_index.clear_memos()


def test_bulk_adc_estimate_masks_unoccupied_cells():
    """The bulk (mean candidate ADC) estimate must skip book cells that
    no code occupies: those slots carry +inf in the dense lookup arrays
    and zero frequency — multiplying instead of masking would poison
    the whole estimate with NaN (0 * inf)."""
    from mapreduce_hadoop_spark.operators.similarity import _bulk_adc_estimates

    arrays = [np.full((2, 256), np.inf) for _ in range(2)]
    for m in range(2):
        arrays[m][:, :4] = [[1.0, 2.0, 3.0, 4.0], [2.0, 2.0, 2.0, 2.0]]
    # 10 codes per subspace, all mass on cells 0..3.
    hist = [(m, c, f) for m in range(2) for c, f in enumerate((4, 3, 2, 1))]
    bulk = _bulk_adc_estimates(arrays, hist, 2)
    # query 0: per-m mean = (4*1+3*2+2*3+1*4)/10 = 2.0 -> total 4.0
    assert bulk == [4.0, 4.0 * 0 + 2.0 * 2]  # q1: all entries 2.0 -> 4.0
    assert all(np.isfinite(b) for b in bulk)


def test_codes_histogram_warm_loads_artifact(spark, sf_dir, tmp_path, monkeypatch):
    """The code histogram is a persisted model artifact: a warm session
    must load it without touching the codes relation (poisoned here) —
    the zero-warm-jobs contract the adaptive bulk estimate rides on."""
    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import _codes_histogram

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    codes = spark.createDataFrame(
        [(i, i % 3, (i + 1) % 3) for i in range(30)], "vec_id long, c0 int, c1 int"
    )
    cold = _codes_histogram(spark, codes, sf_dir, 2, 3, tag="t")
    assert sum(f for _, _, f in cold) == 60  # 30 rows x 2 subspaces

    ann_index.clear_memos()

    class Boom:
        def __getattr__(self, name):  # pragma: no cover - failure path
            raise AssertionError("warm histogram must not touch the codes relation")

    warm = _codes_histogram(spark, Boom(), sf_dir, 2, 3, tag="t")
    assert warm == cold
    ann_index.clear_memos()


def test_escalating_widen_keep_depths(spark):
    """Round 16 (VERDICT r15 order 2): the per-query keep depth of the
    adaptive shortlist must ESCALATE with the covered-gap signal —
    floor for covered >= PQ_ADAPT_COVER, 8x for ordinary fires (round
    17: 4x -> 8x, the second-family calibration point), 16x for
    deep fires (covered < PQ_ADAPT_DEEP_COVER). Constructed inputs give
    three queries one covered value each and hide their true neighbors
    at ADC ranks only the matching depth reaches, so a wrong depth (or a
    band edge off by one) changes the output rows, not just the cost."""
    from mapreduce_hadoop_spark.operators.similarity import (
        TOP_K,
        _adc_rank,
    )

    shortlist, n = 6, 200
    # ADC ladder shared by all queries: candidate index i carries code i
    # and reads adc 0.001*(i+1) -> a_top = 0.005, a_floor = 0.006.
    ts = [0.001 * (i + 1) for i in range(n)] + [1.0] * 56
    # covered = 0.001 / (bulk - 0.005): 0.10 (deep), 0.36 (fire), 0.50 (no).
    bulks = {0: 0.015, 1: 0.005 + 0.001 / 0.36, 2: 0.007}
    # True neighbors (cosine peaks) hidden at depth-specific ADC ranks:
    # deep query -> ranks 81-85 (only the 16x keep of 96 reaches them),
    # fire query -> ranks 43-47 (the 8x keep of 48 — beyond the retired
    # 4x keep of 24, so a silent 4x regression fails), no-fire -> 1-5.
    peaks = {0: range(80, 85), 1: range(42, 47), 2: range(0, 5)}
    dim = 4
    vrows = []
    for i in range(n):
        v = [0.0] * dim
        base = 0.05 - i * 0.0001
        for qid in range(3):
            v[qid] = 0.3 if i in peaks[qid] else base
        v[3] = 0.5  # common filler so norms stay comparable
        vrows.append((1000 + i, v))
    raw = spark.createDataFrame(vrows, "vec_id long, v array<double>")
    codes = spark.createDataFrame(
        [(1000 + i, i) for i in range(n)], "vec_id long, c0 int"
    )
    qarr = spark.createDataFrame(
        [(qid, ts, bulks[qid]) for qid in range(3)],
        "query_id long, `0` array<double>, bulk double",
    )
    q = spark.createDataFrame(
        [(qid, [1.0 if d == qid else 0.0 for d in range(dim)]) for qid in range(3)],
        "query_id long, qnv array<double>",
    )
    out = _adc_rank(
        codes,
        qarr,
        raw,
        q,
        shortlist,
        m_subspaces=1,
        candidates_per_query=n,
        persist_codes=False,
        adaptive=True,
    ).collect()
    got = {qid: sorted(r.vec_id for r in out if r.query_id == qid) for qid in range(3)}
    assert got[0] == [1000 + i for i in peaks[0]], got[0]  # deep: 16x reached
    assert got[1] == [1000 + i for i in peaks[1]], got[1]  # fire: 8x reached
    assert got[2] == [1000 + i for i in peaks[2]], got[2]  # no-fire: floor
    assert all(len(v) == TOP_K for v in got.values())


def test_warm_full_union_serve_opens_no_bylist_artifact(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Both IVF-PQ builders serve their codes from one flat artifact and
    re-rank from the corpus itself: a cold build under an empty index
    root must commit no ``bylist_*`` artifact and no hive-partitioned
    ``cent_id=`` directory, and the warm serve must open nothing but the
    flat codes artifact."""
    from mapreduce_hadoop_spark.operators import ann_index
    from mapreduce_hadoop_spark.operators.similarity import (
        topk_ivfpq_fixed,
        topk_ivfpq_trained,
        unpersist_intermediates,
    )

    root = tmp_path / "idx"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(root))
    ann_index.clear_memos()
    builders = (topk_ivfpq_fixed, topk_ivfpq_trained)
    try:
        for fn in builders:  # cold: builds every artifact
            assert len(fn(spark, sf_dir).collect()) > 0
            unpersist_intermediates()
        committed = [
            os.path.relpath(os.path.join(r, d), root)
            for r, dirs, _ in os.walk(root)
            for d in dirs
        ]
        assert any(os.path.basename(d).startswith("codes_") for d in committed)
        assert not [
            d
            for d in committed
            if os.path.basename(d).startswith("bylist_")
            or os.path.basename(d).startswith("cent_id=")
        ], committed

        ann_index.clear_memos()
        opened: list = []
        real = ann_index.cached_relation

        def recording(spark_, sf_dir_, name, *a, **kw):
            opened.append(name)
            return real(spark_, sf_dir_, name, *a, **kw)

        monkeypatch.setattr(ann_index, "cached_relation", recording)
        for fn in builders:
            assert len(fn(spark, sf_dir).collect()) > 0
            unpersist_intermediates()
        assert len(opened) == 2 and all(n.startswith("codes_") for n in opened), opened
    finally:
        unpersist_intermediates()
        ann_index.clear_memos()


TOPK_REGISTRY_QUERIES = [
    "similarity_topk_bruteforce",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "similarity_topk_ivf_trained",
    "similarity_topk_ivf_adaptive",
    "similarity_topk_ivf_spann",
    "similarity_topk_ivf_spann_fixed",
    "similarity_topk_pq",
    "similarity_topk_pq_trained",
    "ann_append_serving",
    "ann_append_serving_fixed",
    "similarity_topk_ivfpq_fixed",
    "similarity_topk_ivfpq_trained",
]

# The near-duplicate / corpus-curation queries: their builders persist
# shingle hashes, signatures and near-dup ids, and the two cluster
# queries locally checkpoint each connected-components round.
DEDUP_REGISTRY_QUERIES = [
    "dedup_exact",
    "dedup_exact_normalized",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_keep_best",
    "contamination_check",
    "text_span_dedup",
    "corpus_clean_stats",
]


@pytest.mark.parametrize("name", TOPK_REGISTRY_QUERIES + DEDUP_REGISTRY_QUERIES)
def test_pq_serve_releases_every_cached_intermediate(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """Cache lifecycle of every registered top-K serve and near-dup
    query: after the query is built and collected,
    ``unpersist_intermediates`` (the one persist registry) must leave NO
    persisted RDD behind — neither a cache nor a local checkpoint,
    whichever ranker path, books source, codes layout, or cost branch the
    query took."""
    from mapreduce_hadoop_spark import registry
    from mapreduce_hadoop_spark.operators import ann_index

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ann_index.clear_memos()
    spark.catalog.clearCache()
    unpersist_intermediates()
    jsc = spark.sparkContext._jsc
    # Start from an empty cache: an RDD another test left persisted is not
    # this query's leak.
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    assert jsc.getPersistentRDDs().isEmpty()
    try:
        rows = registry.queries()[name](spark, sf_dir).collect()
        assert len(rows) > 0
        unpersist_intermediates()
        assert jsc.getPersistentRDDs().isEmpty(), (
            f"{name} left persisted RDDs: {jsc.getPersistentRDDs().keySet()}"
        )
    finally:
        unpersist_intermediates()
        ann_index.clear_memos()
