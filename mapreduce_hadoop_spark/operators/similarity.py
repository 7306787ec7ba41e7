"""Similarity search over the `embeddings` table (north-star extension).

Every top-K builder below ends in ONE exact ranker: the query side is
``_as_query`` (query_id, qv, qn), and ``_rank`` rounds the cosine to 6
decimals and keeps each query's TOP_K rows by (cosine desc, vec_id) —
the single operator of exact top-K similarity search. What differs
between the builders is only how the candidate pairs are produced:

- ``topk_bruteforce``: every corpus row against the broadcast query set —
  k_q x n candidate rows, never n^2. The exact baseline any ANN variant
  is judged against.
- ``near_dup_cosine``: exact all-pairs cosine >= threshold. O(n^2) by
  definition — the correctness baseline, only for modest n.
- ``topk_lsh`` / ``near_dup_cosine_lsh``: banded signed-random-projection
  LSH (OR-of-ANDs; md5-parity +/-1 hyperplanes shared as literals with
  the oracle) with ENTROPY-AWARE bit width — ``measured_sign_bits``
  picks the width from the corpus's measured sign-pattern collision
  mass (count-based ``auto_sign_bits`` as the floor) so candidate
  volume stays linear even on low-entropy corpora (48705ef:SCALE_sf10_r7.md).
  Recall is 1-(1-p^bits)^bands (measured at sf0.01: topk 0.86 at 12
  bands, near-dup pair recall 0.82 at 8 bands). (band, bucket) is the
  shuffle/join key; neither the band count nor the bit width changes
  the plan.
- The IVF family (``topk_ivf*``) is ONE probe-and-rank path: a centroid
  source (fixed rows [100, 116) or persisted k-means), a list assignment
  (nearest list, or SPANN boundary replication), and a probe selection
  (nearest ``nprobe`` lists, or the adaptive (1+eps)^2 closeness rule)
  feed ``lists JOIN broadcast(probes)`` -> self-filter -> ``_rank``.
  Default nprobe=8 is the measured knee (sf0.01 recall@5: 0.80 trained
  / 0.74 fixed at ~49% candidate budget). The fixed-centroid variants
  are the oracle-checkable twins of the trained ones.
- The PQ family (``topk_pq*``, ``ann_append_serving*``, ``topk_ivfpq*``)
  is ONE serving pipeline: books (in-plan aggregation, a persisted
  artifact, or k-means) -> driver-built ADC arrays (``_query_side``) ->
  one ADC scan -> shortlist -> exact re-rank (``_adc_rank``); the
  variants differ only in the books source and the shortlist rule.
  ``topk_ivfpq_trained`` is the deployed serving shape (K=sqrt(n)
  trained coarse quantizer x residual PQ-ADC x adaptive exact re-rank;
  recall@5 0.84 at sf0.1 scanning 36% of the corpus, 8 code bytes per
  scanned vector instead of 64 floats).

All arithmetic is a strict left-to-right fold (F.aggregate / list_reduce)
over double-cast elements, so Spark and DuckDB produce bit-identical
cosines; results are rounded to 6 decimals at the output edge.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.operators.dedup import in_row_pairs
from mapreduce_hadoop_spark.session import (
    persisted,
    unpersist_intermediates,  # noqa: F401 — re-exported
)
from mapreduce_hadoop_spark.sources.tables import load_table

N_QUERIES = 10  # vec_id < 10 are the demo query vectors
TOP_K = 5
NEAR_DUP_COS = 0.4


def _dvec(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _with_norm(df: DataFrame) -> DataFrame:
    v = _dvec("embedding")
    return df.select(
        "vec_id", v.alias("v"), F.sqrt(_dot(v, v)).alias("norm")
    )


def _div_by(vec: "Column | str", scalar: "Column | str") -> Column:
    """``transform(vec, x -> x / scalar)`` with the scalar's defining
    expression evaluated ONCE per row. Catalyst's CollapseProject inlines
    a projected scalar (e.g. the O(d)-fold ``norm`` column) INTO the
    per-element lambda, re-evaluating the fold for EVERY element —
    O(d^2) interpreted ops per row, measured as 9.4 s of
    topk_pq_trained's 13.2 s sf1 wall (not scheduler stage latency, as
    it first looked). Binding the scalar as the element of a
    1-element outer transform turns it into a lambda VARIABLE, which the
    inner lambda references for free. The arithmetic (and therefore every
    output bit) is unchanged; only the evaluation count drops."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    scalar = F.col(scalar) if isinstance(scalar, str) else scalar
    return F.element_at(
        F.transform(F.array(scalar), lambda s: F.transform(vec, lambda x: x / s)),
        1,
    )


DOT_SQL = "list_reduce([{a}[i] * {b}[i] for i in range(1, 65)], (x, y) -> x + y)"
NORM_SQL = (
    "sqrt(list_reduce([{v}[i] * {v}[i] for i in range(1, 65)], (x, y) -> x + y))"
)

EMB_NORM_SQL = f"""
SELECT vec_id, v, {NORM_SQL.format(v="v")} AS norm
FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
"""


def _as_query(df: DataFrame, *extra: "Column | str") -> DataFrame:
    """The query side of every top-K: ``df``'s rows as (query_id, qv,
    qn), plus any ``extra`` columns (probe list, LSH band key)."""
    return df.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
        *extra,
    )


def _rank(
    pairs: DataFrame,
    cos: "Column | None" = None,
    dedup: bool = False,
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """The one exact top-K ranker: (query_id, vec_id) candidate pairs ->
    cosine rounded to 6 decimals -> the TOP_K rows per query by (cosine
    desc, vec_id), numbered ``rank``.

    ``cos`` defaults to the qv/qn x v/norm cosine of ``_as_query`` pairs;
    ``carry`` columns ride along to the output. ``dedup`` collapses
    duplicate pairs (a candidate reached through several bands or lists)
    before ranking: every copy carries the same cosine, so which copy
    survives is immaterial. Cosine is projected BEFORE the collapse, so
    the shuffle moves ~24 B rows rather than v[64] payloads, and the
    repartition on query_id lets the dropDuplicates and the rank window
    share ONE exchange (hashpartitioning(query_id) satisfies the
    (query_id, vec_id) clustered distribution)."""
    if cos is None:
        cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("norm"))
    scored = pairs.select("query_id", "vec_id", F.round(cos, 6).alias("cosine"), *carry)
    if dedup:
        scored = scored.repartition("query_id").dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return scored.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= TOP_K
    )


def topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id < N_QUERIES)."""
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = _as_query(emb.filter(F.col("vec_id") < N_QUERIES))
    return _rank(emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")))


# SQL twin of ``_rank``'s window (over the `scored` CTE), the tail of
# every exact top-K oracle.
RANK_SQL = f"""SELECT query_id, vec_id, cosine, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
) WHERE rank <= {TOP_K}
"""


def _cos_sql(q: str, x: str) -> str:
    return f"round({DOT_SQL.format(a=f'{q}.qv', b=f'{x}.v')} / ({q}.qn * {x}.norm), 6)"


TOPK_BRUTEFORCE_ORACLE = f"""
WITH e AS ({EMB_NORM_SQL}),
q AS (SELECT vec_id AS query_id, v AS qv, norm AS qn FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, e.vec_id,
           {_cos_sql("q", "e")} AS cosine
    FROM e JOIN q ON e.vec_id <> q.query_id
)
{RANK_SQL}"""


def _near_dup_blocks(n: int, parallelism: int) -> int:
    """Block count B for the triangle-blocked all-pairs plan: the smallest
    B whose B(B+1)/2 block-pair groups cover the cluster's parallelism,
    raised so no block exceeds ~4096 rows (bounds each group's pandas
    frame and the numpy accumulator tile regardless of corpus size)."""
    import math

    b_par = math.ceil((math.sqrt(8.0 * max(parallelism, 1) + 1) - 1) / 2)
    return max(b_par, math.ceil(n / 4096), 1)


def near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-duplicates: cosine >= 0.4, vec_a < vec_b.

    Exact O(n^2) COMPUTE is the semantics (``near_dup_cosine_lsh`` is the
    approximate scale path) — but a
    BroadcastNestedLoopJoin evaluating a 64-term ``aggregate`` fold per
    pair in the JVM expression interpreter, pays that n^2 at
    interpreted-expression speed and broadcasts one whole side.  This
    plan is the textbook triangle blocking instead: rows hash into B
    blocks by ``vec_id % B``, every unordered block pair (i <= j) is one
    ``applyInPandas`` group, and each group evaluates its dense tile as a
    numpy outer-product ACCUMULATE whose summation order is the exact
    left fold of ``_dot`` / the DuckDB oracle's ``list_reduce`` — so
    every output bit (pinned vs a BroadcastNestedLoopJoin twin in
    tests/test_similarity_ivf.py) is unchanged while the arithmetic runs
    vectorized.

    Scale accounting: shuffle is n*B rows (= n^2/4096, vanishing next to
    the unavoidable n^2*d compute), no broadcast of data rows, no driver
    collect, groups are size-capped (~4096 rows/block) and uniformly
    keyed by the dense vec_id residue — skew-immune.  The final round +
    threshold stay in Spark so the filter semantics are byte-identical
    to the oracle's.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    n_rows = emb.count()
    n_blocks = _near_dup_blocks(n_rows, spark.sparkContext.defaultParallelism)

    ks = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    # pmod, not %: Spark's % is sign-preserving, so a NEGATIVE vec_id
    # would land in a (neg, k) group that no bid==k row joins and its
    # cross-block pairs would silently vanish — violating the exact
    # all-pairs contract. Every current corpus has
    # non-negative ids (pmod == % there, output bits unchanged — rule-1a
    # pinned), but exactness must not ride an undocumented id-sign
    # assumption.
    bid = F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    tagged = emb.withColumn("bid", bid).withColumn(
        "g",
        F.explode(
            F.transform(
                ks,
                lambda k: F.struct(
                    F.least(F.col("bid"), k).alias("gi"),
                    F.greatest(F.col("bid"), k).alias("gj"),
                ),
            )
        ),
    )

    pre_cut = NEAR_DUP_COS - 1e-6  # below round-half-up's 6-dp boundary

    def _tile(key, pdf):
        gi, gj = int(key[0]), int(key[1])
        empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                              "vec_b": pd.Series(dtype="int64"),
                              "raw": pd.Series(dtype="float64")})
        side_a = pdf[pdf["bid"] == gi]
        side_b = pdf if gi == gj else pdf[pdf["bid"] == gj]
        if not len(side_a) or not len(side_b):
            return empty

        def _mat_norm(side):
            m = np.stack(side["v"].to_numpy()).astype(np.float64, copy=False)
            acc = np.zeros(len(m))
            for i in range(m.shape[1]):  # left fold, bit-exact vs _dot
                acc += m[:, i] * m[:, i]
            return m, np.sqrt(acc)

        ma, na = _mat_norm(side_a)
        mb, nb = _mat_norm(side_b)
        ids_a = side_a["vec_id"].to_numpy()
        ids_b = side_b["vec_id"].to_numpy()
        out = []
        # 2D cache tiles: the d-pass left fold re-streams the whole
        # accumulator every pass, so a RAM-resident acc is bandwidth-
        # bound (measured at n=200k: 64 passes x 33 MB row-strip acc ~
        # 20 TB of traffic for one corpus). A 512x512 tile (2 MB acc +
        # 2 MB buffer) stays cache-resident across the 64 passes;
        # per-ELEMENT summation order is untouched by tiling, so output
        # bits are identical (hash-pinned at three gate scales either
        # way).
        TILE = 512
        tmp = np.empty((min(TILE, len(ma)), min(TILE, len(mb))))
        for s in range(0, len(ma), TILE):
            a, ia, npa = ma[s : s + TILE], ids_a[s : s + TILE], na[s : s + TILE]
            for cs in range(0, len(mb), TILE):
                b = mb[cs : cs + TILE]
                ib = ids_b[cs : cs + TILE]
                nb_ = nb[cs : cs + TILE]
                acc = np.zeros((len(a), len(b)))
                t = tmp[: len(a), : len(b)]
                for i in range(a.shape[1]):  # same left fold as _dot
                    # multiply-into-buffer then add: the same two
                    # correctly rounded IEEE ops as `acc += a*b`.
                    np.multiply(a[:, i : i + 1], b[:, i], out=t)
                    acc += t
                raw = acc / (npa[:, None] * nb_[None, :])
                keep = (raw >= pre_cut) & (ia[:, None] != ib[None, :])
                r, c = np.nonzero(keep)
                if not len(r):
                    continue
                va, vb = ia[r], ib[c]
                lo, hi = np.minimum(va, vb), np.maximum(va, vb)
                kept_raw = raw[keep]
                if gi == gj:  # self group sees each pair twice; keep one
                    once = va < vb
                    lo, hi, kept_raw = lo[once], hi[once], kept_raw[once]
                out.append(
                    pd.DataFrame({"vec_a": lo, "vec_b": hi, "raw": kept_raw})
                )
        return pd.concat(out) if out else empty

    raw = tagged.groupBy("g.gi", "g.gj").applyInPandas(
        _tile, "vec_a long, vec_b long, raw double"
    )
    cos = F.round(F.col("raw"), 6)
    return raw.select("vec_a", "vec_b", cos.alias("cosine")).filter(
        F.col("cosine") >= F.lit(NEAR_DUP_COS)
    )


NEAR_DUP_ORACLE = f"""
WITH e AS ({EMB_NORM_SQL})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({DOT_SQL.format(a="a.v", b="b.v")} / (a.norm * b.norm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round({DOT_SQL.format(a="a.v", b="b.v")} / (a.norm * b.norm), 6) >= {NEAR_DUP_COS}
"""


# Banded signed-random-projection (SRP / Charikar) LSH with SCALE-ADAPTIVE
# bit width. A fixed-4-bit config hit its candidate ceiling
# Theta(n^2 * bands / 2^bits) at sf10mut exactly as the formula
# predicts; the mitigation is bits growing with log2(n) so the expected
# bucket size n/2^bits stays flat (~EMB_LSH_TARGET_BUCKET) and candidate
# volume stays LINEAR: ~bands * TARGET * n / 2 pairs regardless of corpus
# size. Only the join key widens — the plan shape never changes.
#
# Each bit is the sign of a pseudo-random +/-1 projection of the full
# vector (not an axis-aligned dim): the sign matrix is derived from a
# splitmix-seeded parity (functions/hashing.py recurrence), so both Spark
# and the DuckDB oracle re-derive identical hyperplanes from integers —
# and the (band, bit) supply is unbounded, unlike the 64 axis dims.
#
# Recall honesty (P(bit agrees) = 1 - arccos(c)/pi): auto-bits holds
# recall for the HIGH-similarity regime the dedup use case needs while
# keeping candidates linear — at bits=12/8 bands, recall ~0.93 at c=0.95,
# ~0.73 at c=0.9 — but moderate-cosine recall (c~0.4) necessarily decays
# as bits grow (the LSH tradeoff: holding it flat would need bands growing
# like 1/p^bits, i.e. exponentially). For moderate-threshold mining at
# scale, raise ``bands`` (cost is linear in bands) or use the IVF route.
#
# Bit selection is ENTROPY-AWARE (``measured_sign_bits``). The
# count-based formula under-provisions when the corpus's sign-pattern
# entropy is below ``bits`` bits (correlated
# embeddings -> collision mass ~1.7x the uniform 2^-bits model; p99
# bucket 166 vs 49 expected at sf10mut), leaving candidate volume
# ~n^1.17 instead of flat. The fix measures the collision mass directly:
# one band-0 signature pass at MAX_BITS over a bounded deterministic
# sample, folded to every candidate width b by masking the low b bits
# (bit i's hyperplane is width-independent, so the width-b bucket IS the
# low b bits of the width-MAX bucket), then picks the smallest b whose
# measured per-vector candidate mass n * sum(cnt*(cnt-1))/(m*(m-1)) is
# <= TARGET_BUCKET. Count-based ``auto_sign_bits`` remains as the floor
# (sum p^2 >= 2^-b makes the measured pick >= the count pick up to
# sampling error). All comparisons are integer-exact and the sample is
# keyed on vec_id % samp, so the DuckDB oracle re-derives the identical
# width from the same data.
#
# Bands defaults, measured under SRP at bits=4 (the old axis-aligned
# family's 0.80-at-8-bands curve was exploiting the synthetic corpus's
# axis structure; SRP matches the data-independent theory instead —
# tests/test_similarity_ivf.py re-measures the floors):
#   topk recall@5 at sf0.01 (top-5 cosine ~0.3, the hard weak-neighbor
#   regime): bands=8 -> 0.58 at 42% candidates, 12 -> 0.86 at 55%,
#   16 -> 0.92 at 65%; theory 1-(1-p^4)^bands with p(0.3)=0.597 gives
#   0.66/0.80/0.88 — 12 bands is the knee for topk.
#   near-dup pair recall (c >= 0.4, p >= 0.63): 8 bands measures 0.82 at
#   sf0.001 — the cheaper default holds there.
NEAR_DUP_BANDS = 8
TOPK_BANDS = 12
EMB_DIM = 64
EMB_LSH_TARGET_BUCKET = 64  # expected vectors per (band, bucket) at auto bits
EMB_LSH_MIN_BITS = 4
# Clamp: past n ~ TARGET * 2^20 (~67M vectors in one partition-table, i.e.
# far beyond any single corpus this engine targets before IVF takes over)
# bucket size starts growing linearly again; the clamp keeps the join key
# bounded rather than failing. Documented, not silent: auto_sign_bits is
# the single knob and its value is visible in the plan's literal tree.
EMB_LSH_MAX_BITS = 20
# Collision-mass probe sample bound: the entropy probe hashes at most
# ~2 * SAMPLE_TARGET vectors (vec_id % samp == 0 with samp = n div
# SAMPLE_TARGET), so its cost is flat in corpus size. The modulus sample
# is deterministic and engine-agnostic (no RNG, no hash divergence).
EMB_LSH_SAMPLE_TARGET = 1 << 16
# Degenerate-bucket guard for the banded self-join: a sign bucket holding
# more than max(EMB_BUCKET_CAP_MIN, n/2) vectors (e.g. a boilerplate corpus
# collapsing onto one bucket) is excluded from candidate generation.
# Healthy buckets hold ~n/2^bits <= TARGET, so the cap only trips on
# pathological skew; it is relative (not a fixed count) because bucket size
# may legitimately approach n/2 on tiny corpora at MIN_BITS.
EMB_BUCKET_CAP_MIN = 200
# In-row pair-generation bound: buckets up to this size emit
# their candidate pairs from ONE collected row (the minhash bucket
# pattern — worst case CHUNK*(CHUNK-1)/2 id pairs ~ 0.5 MB in-row);
# larger surviving buckets (legal up to the n/2 cap above, reachable
# only on pathological skew) keep streaming through the ids-only
# self-join, which materializes nothing per row. 4x TARGET_BUCKET: the
# healthy tail stays in-row, the route split is a constant of the
# operator, and both routes emit the identical pair set (each pair at
# its first matching band), so the split moves no output bit.
EMB_BUCKET_CHUNK = 256


def auto_sign_bits(n: int) -> int:
    """Smallest b in [MIN_BITS, MAX_BITS] with n <= TARGET_BUCKET * 2^b.

    Integer-exact (no float log2), so Spark (computing it driver-side from
    a count) and the DuckDB oracle (computing it in SQL from the same
    count) can never disagree on a boundary.
    """
    for b in range(EMB_LSH_MIN_BITS, EMB_LSH_MAX_BITS + 1):
        if n <= EMB_LSH_TARGET_BUCKET << b:
            return b
    return EMB_LSH_MAX_BITS


def measured_sign_bits(emb: DataFrame) -> int:
    """Entropy-aware bit width: smallest b in [auto_sign_bits(n), MAX_BITS]
    whose MEASURED per-vector candidate mass is <= TARGET_BUCKET.
    The probe runs on every call: the width is a function of the data the
    plan reads now, not of an earlier read.

    ``auto_sign_bits`` assumes uniform buckets (collision mass 2^-bits);
    real embedding corpora have sign-pattern entropy below ``bits`` bits,
    so buckets are heavier than the count predicts (measured ~1.7x
    at sf10mut) and candidate volume creeps super-linear. This probe
    measures the mass instead of modeling it:

    1. Deterministic sample: vec_id % samp == 0 with
       samp = max(1, n div SAMPLE_TARGET) — bounded, engine-agnostic.
    2. One band-0 signature per sampled vector at MAX_BITS width. Bit i's
       hyperplane does not depend on the configured width, so the
       width-b bucket is exactly ``bucket_MAX & (2^b - 1)`` — one probe
       pass covers every candidate width.
    3. Distributed fold: per-width bucket counts -> mm(b) = sum cnt*(cnt-1)
       and m(b) = sum cnt (17 rows collected; model-sized, never data-
       sized). mm is the unbiased pair-collision estimator: candidate
       pairs per band at width b ~ n^2/2 * mm/(m*(m-1)).
    4. Pick min b with  n * mm(b) <= TARGET_BUCKET * m * (m-1)  — i.e.
       expected per-vector candidates per band <= TARGET_BUCKET. All
       integers, so the DuckDB oracle (same sample, same fold in SQL)
       lands on the identical width. mm(b) is nonincreasing in b
       (masking merges buckets), so the pick is well-defined.

    Floor: max with auto_sign_bits(n) — sum p^2 >= 2^-b means the
    measured pick can only fall below the count pick by sampling error,
    and the floor keeps the documented log2(n) growth contract exact.
    """
    n = emb.count()
    if n <= 0:
        return EMB_LSH_MIN_BITS
    floor_bits = auto_sign_bits(n)
    if floor_bits >= EMB_LSH_MAX_BITS:
        return EMB_LSH_MAX_BITS
    samp = max(1, n // EMB_LSH_SAMPLE_TARGET)
    sig = emb if samp == 1 else emb.filter(F.col("vec_id") % samp == 0)
    # The probe hashes at MAX_BITS x EMB_DIM per row; on a narrow scan
    # (single-row-group parquet) that would run on one core. The sample
    # is bounded (~SAMPLE_TARGET rows), so the round-robin spread is a
    # bounded-size shuffle, never data-sized.
    cores = emb.sparkSession.sparkContext.defaultParallelism
    sig = sig.repartition(cores)
    probe = srp_signs(1, EMB_LSH_MAX_BITS)[0]
    mass_rows = (
        sig.select(_band_bucket(F.col("v"), probe).alias("bk"))
        .groupBy("bk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.explode(
                F.sequence(F.lit(EMB_LSH_MIN_BITS), F.lit(EMB_LSH_MAX_BITS))
            ).alias("b"),
            "bk",
            "cnt",
        )
        .groupBy("b", F.expr("bk & (shiftleft(cast(1 as bigint), b) - 1)").alias("bb"))
        .agg(F.sum("cnt").alias("cb"))
        .groupBy("b")
        .agg(
            F.sum(F.col("cb") * (F.col("cb") - F.lit(1))).alias("mm"),
            F.sum("cb").alias("m"),
        )
        .collect()
    )
    stats = {int(r["b"]): (int(r["mm"]), int(r["m"])) for r in mass_rows}
    # Empty sample (pathological: no vec_id divisible by samp) -> MAX,
    # mirroring the oracle's coalesce(min over empty, MAX) exactly.
    measured = EMB_LSH_MAX_BITS
    for b in range(EMB_LSH_MIN_BITS, EMB_LSH_MAX_BITS + 1):
        if b not in stats:
            continue
        mm, m = stats[b]
        if n * mm <= EMB_LSH_TARGET_BUCKET * m * (m - 1):
            measured = b
            break
    return max(floor_bits, measured)


def _srp_sign(band: int, bit: int, dim: int) -> float:
    """+/-1 hyperplane coefficient: md5 parity of "band,bit,dim".

    md5 (not a linear-congruential parity, whose modular structure produced
    duplicate hyperplanes — measured max row correlation 1.0 vs 0.375 here)
    gives i.i.d.-quality signs. The coefficients ship to BOTH engines as
    literals (Spark: foldable array literals; DuckDB: the `s` CTE constant
    in ``_SQL_SIGNS``), so no arithmetic re-derivation is needed per row.
    """
    import hashlib

    return (
        1.0
        if hashlib.md5(f"{band},{bit},{dim}".encode()).digest()[0] & 1 == 0
        else -1.0
    )


def srp_signs(bands: int, bits: int) -> list[list[list[float]]]:
    """signs[band][bit] = EMB_DIM-length +/-1 hyperplane (the default
    family); the length matches the vectors — zip_with against a longer
    sign row would NULL-poison the projection."""
    return [
        [[_srp_sign(j, i, d) for d in range(EMB_DIM)] for i in range(bits)]
        for j in range(bands)
    ]


def _band_bucket(v: Column, band_signs: list[list[float]]) -> Column:
    """Sign pattern of the band's projections as a long bucket key.

    Each +/-1 coefficient array is a foldable literal — Catalyst constant-
    folds it, so per-row work is exactly bits x 64 multiply-adds, JVM-side.
    """
    bucket = F.lit(0).cast("long")
    for i, srow in enumerate(band_signs):
        proj = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(s) for s in srow]), lambda x, s: x * s),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bucket = bucket + F.when(proj > F.lit(0.0), F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def near_dup_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.4) via banded SRP LSH —
    the scale path beside the exact all-pairs ``near_dup_cosine``.

    OR-of-ANDs banding (same construction as MinHash-LSH, with signed
    random projections as the hash family): 8 bands of auto_sign_bits(n)
    bits each; a pair is a candidate when ALL bits agree in ANY band, then
    exact cosine verifies. Per-band candidate volume is
    sum(bucket_size^2) ~ n^2 * (collision mass), and the ENTROPY-AWARE
    width (``measured_sign_bits``: bits chosen from the measured mass,
    count-based growth as the floor) pins that at ~TARGET_BUCKET * n —
    LINEAR in the corpus even when sign-pattern entropy is below the bit
    width (a count-based width left a residual ~n^1.17 creep). Recall at cosine
    c is 1-(1-p^bits)^bands with p = 1 - arccos(c)/pi; see the constants
    block for the scale/recall contract. No false positives by
    construction (candidates still pass the exact threshold).

    Recall trade at scale (documented, measured): adaptive bits keep
    candidates linear and leave HIGH-similarity output unchanged (sf1
    pair set byte-identical under the adaptive widening), but
    moderate-cosine pair count necessarily drops as the corpus grows —
    measured 159,100 -> 102,600 pairs at sf1 when bits grew 4 -> 11
    (48705ef:SCALE_sf10_r7.md). Recovery routes for moderate-threshold mining:
    raise ``NEAR_DUP_BANDS`` (cost linear in bands) or use the IVF family.
    """
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    return near_dup_lsh_from(emb)


def near_dup_lsh_from(
    emb: DataFrame, signs: "list[list[list[float]]] | None" = None
) -> DataFrame:
    """Banded-LSH near-dup pairs from a normed (vec_id, v, norm) relation
    over NEAR_DUP_BANDS bands; see ``near_dup_cosine_lsh``. The band width
    is measured_sign_bits(emb) — the entropy-aware width (bounded probe;
    auto_sign_bits(n) as the count-based floor), the price of the
    scale-adaptive key. ``signs`` overrides the hash family (tests use
    axis-aligned planes to place vectors in engineered buckets). Buckets over
    max(EMB_BUCKET_CAP_MIN, n/2) are dropped (degenerate-skew guard).

    Dedup is in-row, not a shuffle: every band relation carries the
    vector's full per-band bucket array (NULL where the cap dropped the
    entry), and a pair is emitted only at the FIRST band whose buckets
    match — ``array_position(zip_with(=), true)`` — so a pair colliding
    in k bands surfaces exactly once without a ``distinct`` over the
    candidate stream. NULL masking keeps cap semantics exact: a capped
    (band, bucket) entry can be neither the first match nor any match
    (NULL = NULL is NULL, never true).

    Candidate generation is DE-PAYLOADED: candidates are id-only, so no
    self-join carries ``v[64] + norm`` on both sides (~600 B/row x
    corpus x bands x 2). Healthy buckets (size <=
    EMB_BUCKET_CHUNK) emit their pairs IN-ROW from one
    ``groupBy(band, bucket)`` collect — the minhash bucket pattern,
    one exchange of (vec_id, mb) rows; buckets between CHUNK and the
    n/2 cap (pathological skew only; zero at every gate scale) stream
    through an ids-only self-join. Both routes apply the same
    first-match test, and a (band, bucket) group takes exactly one
    route, so each surviving pair is emitted exactly once. Vectors
    re-attach to the surviving id pairs through the minhash-style pair
    joins for the exact-cosine verify: the only exchanges that move
    v[64] are the two corpus-keyed re-attach exchanges (ReusedExchange-able, and
    candidate-pair-sized on the pair side), not corpus x bands x 2.
    """
    if signs is None:
        signs = srp_signs(NEAR_DUP_BANDS, measured_sign_bits(emb))
    banded_ex = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        _band_bucket(F.col("v"), signs[j]).alias("bucket"),
                    )
                    for j in range(NEAR_DUP_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "bk.band", "bk.bucket")
    tot = emb.agg(F.count(F.lit(1)).alias("n_total"))
    # <= NEAR_DUP_BANDS * 2^bits rows: aggregate instead of a window, then
    # broadcast the surviving keys back — the band relation is never
    # windowed.
    counts = banded_ex.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    ok = (
        counts.crossJoin(F.broadcast(tot))
        .filter(
            F.col("bucket_n")
            <= F.greatest(
                F.lit(EMB_BUCKET_CAP_MIN).cast("long"), F.expr("n_total div 2")
            )
        )
        .select("band", "bucket", "bucket_n")
    )
    surv = banded_ex.join(F.broadcast(ok), ["band", "bucket"])
    # The per-vector mask now carries (bucket, bucket_n) per band:
    # bucket_n is a pure function of (band, bucket), so struct equality
    # in the first-match test is exactly the old bucket equality, and the
    # size is what routes each group to its pair-generation shape below.
    masked = (
        surv.groupBy("vec_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        "band", F.struct("bucket", "bucket_n").alias("bv")
                    )
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(NEAR_DUP_BANDS - 1)),
                lambda j: F.element_at(F.col("m"), j),
            ).alias("mb"),
        )
    )
    side = (
        masked.select("vec_id", "mb", F.posexplode("mb").alias("band", "bv"))
        .filter(F.col("bv").isNotNull())
        .select(
            "vec_id",
            "mb",
            "band",
            F.col("bv.bucket").alias("bucket"),
            F.col("bv.bucket_n").alias("bucket_n"),
        )
    )

    def first_match(a_mb: Column, b_mb: Column) -> Column:
        return F.array_position(
            F.zip_with(a_mb, b_mb, lambda x, y: x == y), F.lit(True)
        )

    # Route 1 — healthy buckets, in-row upper triangle (ids + masks only;
    # sort_array canonicalizes collect_list order, vec_id is unique per
    # bucket, so the strict upper triangle is exactly a_vec_id < b_vec_id).
    small_buckets = (
        side.filter(F.col("bucket_n") <= F.lit(EMB_BUCKET_CHUNK))
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "mb"))).alias("ds"))
    )
    pairs_small = (
        small_buckets.select(
            "band",
            F.explode(
                in_row_pairs(
                    F.col("ds"), lambda x, y: F.struct(x.alias("a"), y.alias("b"))
                )
            ).alias("p"),
        )
        .filter(first_match(F.col("p.a.mb"), F.col("p.b.mb")) == F.col("band") + 1)
        .select(
            F.col("p.a.vec_id").alias("vec_a"), F.col("p.b.vec_id").alias("vec_b")
        )
    )
    # Route 2 — over-CHUNK survivors (<= n/2 cap): the streaming ids-only
    # self-join; nothing is materialized per row, so a pathological
    # boilerplate bucket degrades throughput, never memory.
    big = side.filter(F.col("bucket_n") > F.lit(EMB_BUCKET_CHUNK))
    a = big.select(
        F.col("vec_id").alias("a_vec_id"), F.col("mb").alias("a_mb"), "band", "bucket"
    )
    b = big.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("mb").alias("b_mb"),
        F.col("band").alias("band2"),
        F.col("bucket").alias("bucket2"),
    )
    pairs_big = (
        a.join(
            b,
            (F.col("band") == F.col("band2"))
            & (F.col("bucket") == F.col("bucket2"))
            & (F.col("a_vec_id") < F.col("b_vec_id")),
        )
        .filter(first_match(F.col("a_mb"), F.col("b_mb")) == F.col("band") + 1)
        .select(F.col("a_vec_id").alias("vec_a"), F.col("b_vec_id").alias("vec_b"))
    )
    cand = pairs_small.unionByName(pairs_big)

    # Exact-cosine verify: vectors re-attach to the id pairs once per
    # side (the minhash verify shape); same _dot fold on the same emb
    # columns, so every cosine bit matches the payload-carrying plan's.
    av = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("a_v"),
        F.col("norm").alias("a_norm"),
    )
    bv = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("b_v"),
        F.col("norm").alias("b_norm"),
    )
    cos = F.round(
        _dot(F.col("a_v"), F.col("b_v")) / (F.col("a_norm") * F.col("b_norm")), 6
    )
    return (
        cand.join(av, "vec_a")
        .join(bv, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(NEAR_DUP_COS))
    )


# The SQL twin of srp_signs/_band_bucket/auto_sign_bits: bits comes from a
# scalar subquery over count(*) (same integer-exact rule as auto_sign_bits),
# the bucket is a dynamic-length list comprehension over range(bits), and
# the hyperplane coefficients are the SAME literal matrix Spark folds into
# its plan, inlined as the one-row `s` CTE (bands x MAX_BITS x 64 signs).
_SQL_BITS = (
    f"coalesce((SELECT min(b) FROM (SELECT unnest(range({EMB_LSH_MIN_BITS}, "
    f"{EMB_LSH_MAX_BITS + 1})) AS b) WHERE (SELECT count(*) FROM e) <= "
    f"{EMB_LSH_TARGET_BUCKET} * (1::BIGINT << b)), {EMB_LSH_MAX_BITS})"
)


def _sql_bits_ctes() -> str:
    """CTE chain `s, p0, psig, pbc, pfold, pmass, p` — the SQL twin of
    ``measured_sign_bits`` (entropy-aware width) over the `e` relation.

    Same deterministic sample (vec_id % samp == 0), same band-0 probe
    signature at MAX_BITS (S index i+1 = band 0, bit i), same mask-fold to
    every candidate width, same integer criterion, with the count-based
    ``_SQL_BITS`` as the greatest() floor — so DuckDB lands on exactly the
    width Spark computed driver-side.
    """
    probe_bucket = (
        f"CAST(list_sum([CASE WHEN list_reduce([v[d + 1] * S[i + 1][d + 1] "
        f"for d in range(0, {EMB_DIM})], (x, y) -> x + y) > 0.0 "
        f"THEN (1::BIGINT << i) ELSE 0 END "
        f"for i in range(0, {EMB_LSH_MAX_BITS})]) AS BIGINT)"
    )
    return f"""s AS ({_sql_signs_cte()}),
p0 AS (SELECT greatest(1, (SELECT count(*) FROM e) // {EMB_LSH_SAMPLE_TARGET}) AS samp),
psig AS (SELECT {probe_bucket} AS bk FROM e, s, p0 WHERE vec_id % samp = 0),
pbc AS (SELECT bk, count(*) AS cnt FROM psig GROUP BY bk),
pfold AS (
    SELECT bs.b AS b, bk & ((1::BIGINT << bs.b) - 1) AS bb, sum(cnt) AS cb
    FROM pbc, (SELECT unnest(range({EMB_LSH_MIN_BITS}, {EMB_LSH_MAX_BITS + 1})) AS b) bs
    GROUP BY 1, 2
),
pmass AS (SELECT b, sum(cb * (cb - 1)) AS mm, sum(cb) AS m FROM pfold GROUP BY b),
p AS (SELECT greatest({_SQL_BITS}, coalesce(
        (SELECT min(b) FROM pmass
         WHERE (SELECT count(*) FROM e) * mm <= {EMB_LSH_TARGET_BUCKET} * m * (m - 1)),
        {EMB_LSH_MAX_BITS})) AS bits)"""


def _sql_signs_cte() -> str:
    """One-row CTE body holding S: the flat [band*MAX_BITS + bit] -> 64-dim
    sign rows, identical to ``srp_signs(max(NEAR_DUP_BANDS, TOPK_BANDS),
    MAX_BITS)`` — wide enough for both oracle variants."""
    n_bands = max(NEAR_DUP_BANDS, TOPK_BANDS)
    signs = srp_signs(n_bands, EMB_LSH_MAX_BITS)
    rows = ", ".join(
        "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in signs[j][i]) + "]"
        for j in range(n_bands)
        for i in range(EMB_LSH_MAX_BITS)
    )
    return f"SELECT [{rows}] AS S"


def _band_bucket_sql(band_expr: str = "band") -> str:
    """Bucket of ``band_expr`` for vector column v at dynamic bit width
    (reads ``bits`` from the `p` CTE and the sign matrix from `s`)."""
    return (
        f"CAST(list_sum([CASE WHEN list_reduce([v[d + 1] * "
        f"S[{band_expr} * {EMB_LSH_MAX_BITS} + i + 1][d + 1] "
        f"for d in range(0, {EMB_DIM})], (x, y) -> x + y) > 0.0 "
        f"THEN (1::BIGINT << i) ELSE 0 END "
        f"for i in range(0, (SELECT bits FROM p))]) AS BIGINT)"
    )


NEAR_DUP_LSH_ORACLE = f"""
WITH e AS ({EMB_NORM_SQL}),
{_sql_bits_ctes()},
banded0 AS (
    SELECT vec_id, bands.band, {_band_bucket_sql("bands.band")} AS bucket
    FROM e, s, (SELECT unnest(range({NEAR_DUP_BANDS})) AS band) bands
),
banded AS (
    SELECT vec_id, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS bucket_n,
           (SELECT count(*) FROM e) AS n_total
    FROM banded0
),
bandedf AS (
    SELECT vec_id, band, bucket FROM banded
    WHERE bucket_n <= greatest({EMB_BUCKET_CAP_MIN}, n_total // 2)
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bandedf a JOIN bandedf b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round({DOT_SQL.format(a="ea.v", b="eb.v")} / (ea.norm * eb.norm), 6) AS cosine
FROM cand
JOIN e ea ON ea.vec_id = vec_a
JOIN e eb ON eb.vec_id = vec_b
WHERE round({DOT_SQL.format(a="ea.v", b="eb.v")} / (ea.norm * eb.norm), 6) >= {NEAR_DUP_COS}
"""


def topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via banded signed-random-projection LSH.

    OR-of-ANDs construction (TOPK_BANDS=12 bands — the measured topk
    recall knee, vs near_dup's cheaper 8 — x measured_sign_bits(n) SRP
    bits; the hash FAMILY is shared with ``near_dup_cosine_lsh``): a
    corpus vector is a candidate when ANY band's full sign pattern
    matches the query's, then exact cosine ranks the candidates. A single
    wide bucket has recall ~p^bits, which collapses for moderate-cosine
    neighbors; banding lifts recall to 1-(1-p^bits)^bands at candidate
    volume ~bands/2^bits of the corpus — and the entropy-aware bits keep
    per-query candidates ~bands * TARGET_BUCKET, flat in corpus size.
    A candidate matching in several bands is collapsed once by the
    ranker's ``dedup``.
    """
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    signs = srp_signs(TOPK_BANDS, measured_sign_bits(emb))
    banded = emb.select(
        "vec_id",
        "v",
        "norm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        _band_bucket(F.col("v"), signs[j]).alias("bucket"),
                    )
                    for j in range(TOPK_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "v", "norm", "bk.band", "bk.bucket")
    q = _as_query(
        banded.filter(F.col("vec_id") < N_QUERIES),
        F.col("band").alias("qband"),
        F.col("bucket").alias("qbucket"),
    )
    pairs = banded.join(
        F.broadcast(q),
        (F.col("band") == F.col("qband"))
        & (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    return _rank(pairs, dedup=True)


def _topk_lsh_oracle() -> str:
    return f"""
WITH e AS ({EMB_NORM_SQL}),
{_sql_bits_ctes()},
banded AS (
    SELECT vec_id, v, norm, bands.band, {_band_bucket_sql("bands.band")} AS bucket
    FROM e, s, (SELECT unnest(range({TOPK_BANDS})) AS band) bands
),
q AS (SELECT vec_id AS query_id, v AS qv, norm AS qn, band, bucket
      FROM banded WHERE vec_id < {N_QUERIES}),
cand AS (
    SELECT DISTINCT q.query_id, b.vec_id
    FROM banded b JOIN q
      ON b.band = q.band AND b.bucket = q.bucket AND b.vec_id <> q.query_id
),
scored AS (
    SELECT c.query_id, c.vec_id,
           round({DOT_SQL.format(a="eq.v", b="ev.v")} / (eq.norm * ev.norm), 6) AS cosine
    FROM cand c
    JOIN e eq ON eq.vec_id = c.query_id
    JOIN e ev ON ev.vec_id = c.vec_id
)
{RANK_SQL}"""


TOPK_LSH_ORACLE = _topk_lsh_oracle()


# --- IVF (inverted-file) ANN ------------------------------------------------

IVF_K = 16  # coarse centroids: the vectors with vec_id in [100, 116)
IVF_CENT_LO, IVF_CENT_HI = 100, 100 + IVF_K
# Default probe budget sits at the measured recall knee (nprobe=8 -> 0.74
# recall@5 fixed / 0.80 trained at sf0.01); below it recall falls off a
# cliff (nprobe=4 -> 0.44), above it cost grows faster than recall.
IVF_NPROBE = 8


def _cents_relation(
    spark: SparkSession, cents_rows: "list[tuple[int, list[float]]]"
) -> DataFrame:
    """Coarse-centroid rows (``ann_index.coarse_centroids``: k-means,
    load-or-fit through the persisted index artifact) as the (cent_id,
    cv, cn) relation ``_ivf_centroids`` yields for the fixed centroids.
    Model parameters, legitimately driver-sized."""
    return spark.createDataFrame(cents_rows, "cent_id int, cv array<double>").select(
        "cent_id",
        "cv",
        F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn"),
    )


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    return emb.filter(
        (F.col("vec_id") >= IVF_CENT_LO) & (F.col("vec_id") < IVF_CENT_HI)
    ).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("norm").alias("cn")
    )


def _cents_array(cents: DataFrame) -> DataFrame:
    """All centroids as ONE row carrying a cent_id-sorted
    ``array<struct<cent_id, cv, cn>>`` — the broadcast side of the
    in-row assignments below. Model-sized by construction (K centroids);
    the collect_list aggregate moves K rows, never the corpus, and
    ``sort_array`` canonicalizes the nondeterministic collect order."""
    return cents.agg(
        F.sort_array(F.collect_list(F.struct("cent_id", "cv", "cn"))).alias(
            "_cents"
        )
    )


def _sorted_cents(key: str, score: "Callable[[Column], Column]", desc: bool) -> Column:
    """In-row over the broadcast ``_cents`` array: every centroid ``c``
    scored as struct(``key`` = score(c), cent_id), ``array_sort``-ed by
    (key, cent_id ASC) — key descending when ``desc``. This is the
    order a (key, cent_id) window row_number applies: Spark SQL
    comparison semantics (NaN greater than everything, -0.0 == 0.0)
    break ties and float corners exactly as the oracles' windows do."""
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(score(c).alias(key), c["cent_id"].alias("cent_id")),
    )

    def cmp(l: Column, r: Column) -> Column:
        gt, lt = l[key] > r[key], l[key] < r[key]
        before, after = (gt, lt) if desc else (lt, gt)
        return (
            F.when(before, F.lit(-1))
            .when(after, F.lit(1))
            .when(l["cent_id"] < r["cent_id"], F.lit(-1))
            .when(l["cent_id"] > r["cent_id"], F.lit(1))
            .otherwise(F.lit(0))
        )

    return F.array_sort(scored, cmp)


def _cent_cos(c: Column) -> Column:
    """Cosine of the row's (v, norm) against centroid struct ``c``."""
    return _dot(F.col("v"), c["cv"]) / (F.col("norm") * c["cn"])


def _assign(emb: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """Each vector's top-``n`` centroids by (cosine DESC, cent_id) as
    ``cent_id`` rows — MAP-SIDE: the centroids ride along as one
    broadcast array row and each vector sorts its K scored centroids
    in-row, so the corpus is never shuffled to pick a per-row argmax.
    The DuckDB twin (``_nearest_sql``) is the equivalent window."""
    top = F.slice(_sorted_cents("ccos", _cent_cos, desc=True), 1, n)
    return (
        emb.crossJoin(F.broadcast(_cents_array(cents)))
        .select("vec_id", "v", "norm", F.explode(top).alias("_a"))
        .select("vec_id", "v", "norm", F.col("_a.cent_id").alias("cent_id"))
    )


def _nearest_probes(
    emb: DataFrame, cents: DataFrame, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """Probe side: each query's ``nprobe`` nearest lists."""
    return _as_query(
        _assign(emb.filter(F.col("vec_id") < N_QUERIES), cents, nprobe), "cent_id"
    )


def _probe_pairs(lists: DataFrame, probes: DataFrame) -> DataFrame:
    """The IVF probe join: inverted-list rows (vec_id, v, norm, cent_id)
    JOIN the broadcast probe side (query_id, qv, qn, cent_id) on cent_id
    — the equi-join that limits each query to its probed lists — minus
    each query's own row. Candidate pairs for ``_rank``."""
    return lists.join(F.broadcast(probes), "cent_id").filter(
        F.col("vec_id") != F.col("query_id")
    )


def topk_ivf(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF ANN, fixed-centroid variant: K=16 deterministic coarse centroids
    (the vectors with vec_id in [100,116)), every vector files into its
    nearest centroid's inverted list, a query probes its ``nprobe`` nearest
    lists and ranks only those candidates by exact cosine.

    This is the ORACLE-CHECKABLE TWIN of ``topk_ivf_trained`` —
    deterministic centroids make the whole plan SQL-expressible so the
    driver can hash-verify it; the trained variant is what a user should
    deploy (balanced lists, higher recall at equal nprobe).

    100 TB shape: centroids are broadcast (model-sized, not data-sized);
    list assignment is a map-side pass; the probe is an equi-join on
    cent_id, so candidate volume per query is nprobe/K of the corpus.
    Recall rises with nprobe without changing the plan — measured at
    sf0.01 (tests/test_similarity_ivf.py re-measures):
      nprobe=4:  recall@5 0.44 at 24% candidates
      nprobe=8:  recall@5 0.74 at 49%            <- default (the knee)
      nprobe=10: recall@5 0.82 at 62%
      nprobe=12: recall@5 0.94 at 74%
    """
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    cents = _ivf_centroids(emb)
    probes = _nearest_probes(emb, cents, nprobe)
    return _rank(_probe_pairs(_assign(emb, cents, 1), probes))


def topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-trained coarse centroids — the PRIMARY IVF
    path (Spark ML KMeans, fixed seed). ``topk_ivf``'s plan with only the
    centroid source changed: trained centroids track the data
    distribution, so inverted lists are balanced and recall at equal
    nprobe improves (sf0.01, nprobe=8: 0.80 trained vs 0.74 fixed;
    bounded in tests/test_similarity_ivf.py).

    Training is not SQL-expressible -> rows-only driver check. The
    centroids are persisted per corpus (ann_index), so repeated calls
    time the probe plan, not the training: train once, probe forever.
    """
    from mapreduce_hadoop_spark.operators import ann_index

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    cents = _cents_relation(spark, ann_index.coarse_centroids(spark, emb, sf_dir, IVF_K))
    return _rank(_probe_pairs(_assign(emb, cents, 1), _nearest_probes(emb, cents)))


# SQL twins of the IVF building blocks: the fixed centroid relation, the
# nearest-lists window (``_assign``), the assigned lists, the probe side
# and the probe join + rank.
IVF_CENTS_SQL = f"""c AS (SELECT vec_id AS cent_id, v AS cv, norm AS cn FROM e
      WHERE vec_id >= {IVF_CENT_LO} AND vec_id < {IVF_CENT_HI})"""


def _nearest_sql(cols: str, n: int, where: str = "") -> str:
    return f"""SELECT {cols} FROM (
        SELECT e.vec_id, e.v, e.norm, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {DOT_SQL.format(a="e.v", b="c.cv")} / (e.norm * c.cn) DESC,
                            c.cent_id) AS crank
        FROM e CROSS JOIN c{where}
    ) WHERE crank <= {n}"""


ASSIGNED_SQL = f"""assigned AS (
    {_nearest_sql("vec_id, v, norm, cent_id", 1)}
)"""
PROBES_COLS_SQL = "vec_id AS query_id, v AS qv, norm AS qn, cent_id"
PROBES_SQL = f"""probes AS (
    {_nearest_sql(PROBES_COLS_SQL, IVF_NPROBE, f" WHERE e.vec_id < {N_QUERIES}")}
)"""


def _probe_rank_sql(lists: str, alias: str, distinct: str = "") -> str:
    """SQL twin of ``_rank(_probe_pairs(lists, probes))``; ``distinct``
    ("DISTINCT ") collapses replicated candidates like ``dedup``."""
    return f"""scored AS (
    SELECT {distinct}p.query_id, {alias}.vec_id,
           {_cos_sql("p", alias)} AS cosine
    FROM {lists} {alias} JOIN probes p ON {alias}.cent_id = p.cent_id
    WHERE {alias}.vec_id <> p.query_id
)
{RANK_SQL}"""


TOPK_IVF_ORACLE = f"""
WITH e AS ({EMB_NORM_SQL}),
{IVF_CENTS_SQL},
{ASSIGNED_SQL},
{PROBES_SQL},
{_probe_rank_sql("assigned", "a")}"""


def _closeness_sql(
    out: str,
    cols: str,
    win: str,
    rank: str,
    eps: float,
    floor: int,
    cap: int,
    where: str = "",
) -> str:
    """SQL: CTEs ``g``, ``win``, ``out`` — per vector, centroids ranked by
    (gap ASC, cent_id) as ``rank``, keeping the first greatest(floor,
    least(cap, close)) where close counts the gaps within (1+eps)^2 of
    the smallest. The window twin of the in-row (1+eps)^2 closeness rule
    (probe side: ``topk_ivf_adaptive``; list side: ``topk_ivf_spann_fixed``)."""
    bound = (1.0 + eps) ** 2
    return f"""g AS (
    SELECT e.vec_id, e.v, e.norm, c.cent_id,
           1.0 - {DOT_SQL.format(a="e.v", b="c.cv")} / (e.norm * c.cn) AS gap
    FROM e CROSS JOIN c{where}
),
{win} AS (
    SELECT *,
           min(gap) OVER (PARTITION BY vec_id) AS gmin,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY gap ASC, cent_id) AS {rank}
    FROM g
),
{out} AS (
    SELECT {cols} FROM (
        SELECT *,
               sum(CASE WHEN gap <= {bound!r} * gmin THEN 1 ELSE 0 END)
                   OVER (PARTITION BY vec_id) AS close
        FROM {win}
    ) WHERE {rank} <= greatest({floor}, least({cap}, close))
)"""


# Query-side adaptive probe width: probe every list whose cosine-gap is
# within (1+eps)^2 of the nearest list's, floored and capped. Served by
# the trained IVF-PQ (floor K/3, cap K; ``_probe_lists_adaptive``) and
# hash-verified through ``topk_ivf_adaptive`` (floor IVF_ADAPT_FLOOR,
# cap IVF_K), both at this one eps. Measured on the CLUSTERED n=20k
# crossover corpus (fixed nprobe read recall 0.54): eps=0.1 never
# escapes the K/3 floor (all widths 47/47); eps=0.3 separates the
# corpora — mutated queries widen to mean 104/141 lists while organic
# sf1 queries stay near the floor (mean 73) — and is the knee: eps=0.4
# saturates every mutated query at ~K for no recall gain at equal
# shortlist (0.76 vs 0.78 at sl=450). Full grid in 48705ef:SCALE_ann_r13.md.
IVFPQ_PROBE_EPS = 0.3
# The oracle-checked twin's floor sits below the fixed nprobe=8 so the
# rule — not the floor — decides most widths.
IVF_ADAPT_FLOOR = 4


def topk_ivf_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN under the ADAPTIVE probe-width rule, fixed centroids —
    the oracle-checkable twin of the trained IVF-PQ's probe dial: a
    query probes its nearest list plus every list whose cosine-gap
    ``1 - cos`` is within ``(1+eps)^2`` of the nearest's, floored at
    ``IVF_ADAPT_FLOOR`` and capped at K — exactly
    ``_probe_lists_adaptive``'s criterion (SPANN's closeness rule on
    the probe side). Expressed as a pure window formulation (min-gap +
    conditional count over the per-query centroid scores — no driver
    arithmetic), so the driver hash-pins the rule: an off-by-one in the
    width clamp, a wrong tie order, or a drifted eps would all
    hash-mismatch. The bound is computed ONCE in Python and embedded as
    the same double literal in the Spark plan and the SQL.

    Ties at the bound break identically to the numpy evaluation ((gap
    asc, cent_id) here = stable argsort with cent_id-ascending input
    there).

    100 TB shape: identical to ``topk_ivf`` — the probe relation stays
    query-sized (the window runs over Q x K scored rows), and the
    candidate join still reads nprobe-ish/K of the corpus."""
    bound = (1.0 + IVFPQ_PROBE_EPS) ** 2
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    cents = _ivf_centroids(emb)
    cos = _dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cn"))
    g = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "v", "norm", "cent_id", (F.lit(1.0) - cos).alias("gap")
        )
    )
    wq = Window.partitionBy("vec_id")
    wo = Window.partitionBy("vec_id").orderBy(F.col("gap").asc(), F.col("cent_id"))
    probes = _as_query(
        g.select(
            "*",
            F.min("gap").over(wq).alias("gmin"),
            F.row_number().over(wo).alias("crank"),
        )
        .select(
            "*",
            F.sum(
                F.when(F.col("gap") <= F.lit(bound) * F.col("gmin"), 1).otherwise(0)
            )
            .over(wq)
            .alias("close"),
        )
        .filter(
            F.col("crank")
            <= F.greatest(
                F.lit(IVF_ADAPT_FLOOR), F.least(F.lit(IVF_K), F.col("close"))
            )
        ),
        "cent_id",
    )
    return _rank(_probe_pairs(_assign(emb, cents, 1), probes))


TOPK_IVF_ADAPTIVE_ORACLE = f"""
WITH e AS ({EMB_NORM_SQL}),
{IVF_CENTS_SQL},
{ASSIGNED_SQL},
{_closeness_sql("probes", PROBES_COLS_SQL, "p", "crank", IVFPQ_PROBE_EPS,
                IVF_ADAPT_FLOOR, IVF_K, f" WHERE e.vec_id < {N_QUERIES}")},
{_probe_rank_sql("assigned", "a")}"""


# --- SPANN-style boundary replication ---------------------------------------

# Closeness criterion (after SPANN, Chen et al. 2021 §3.2): a vector
# files into its nearest list AND any list whose centroid is eps-close
# to the nearest — boundary vectors appear in every list they straddle,
# so a query probing either side finds them. Shipped criterion, stated
# precisely: a COSINE-GAP bound,
#   (1 - cos_i) <= (1 + eps)^2 * (1 - cos_1),
# where cos is taken against the UNNORMALIZED k-means centroids — the
# ||x-c||^2 = 2 - 2cos identity behind the paper's L2 rule holds only
# for normalized centroids, so this is an angular approximation of
# SPANN's distance rule, internally consistent with the cosine-based
# list assignment and swept empirically below (and instrumented in
# 48705ef:SCALE_ann_r12.md §3).
# eps sweep (K=16 trained, nprobe=8, vs topk_ivf_trained's 0.80 at
# sf0.01 / 0.88 at sf0.1) — recall @ replication factor:
#   eps=0.05: 0.88 @ 1.55x / 0.92 @ 1.71x
#   eps=0.10: 0.98 @ 2.31x / 0.94 @ 2.79x   <- shipped (the knee)
#   eps=0.15: 1.00 @ 2.97x / 0.96 @ 3.46x
#   eps=0.25: 1.00 @ 3.66x / 0.98 @ 3.91x (RMAX-saturated)
# Full table in 48705ef:SCALE_ann_r11.md §6. SPANN_RMAX bounds worst-case
# fan-out so a vector equidistant from many centroids cannot blow the
# index up; at larger K the factor falls (boundary shells shrink
# relative to cell volume).
SPANN_EPS = 0.1
SPANN_RMAX = 4


def _cent_matrix(cents_rows: "list[tuple[int, list[float]]]"):
    """Centroid rows sorted by cent_id as numpy ``(ids, cmat, cn)`` —
    the one centroid core of every numpy assignment and probe rule.
    cent_id-ascending input is what makes their stable argsorts break
    ties by cent_id, like the (key, cent_id) windows."""
    import numpy as np

    rows_sorted = sorted(cents_rows)
    ids = np.asarray([cid for cid, _ in rows_sorted], dtype=np.int64)
    cmat = np.asarray([cv for _, cv in rows_sorted], dtype=np.float64)
    return ids, cmat, np.sqrt((cmat * cmat).sum(axis=1))


def _gap_order(x, cmat, cn):
    """Per row of ``x``: centroid columns ordered by cosine gap ``1 -
    cos`` ascending (stable, so ties keep cent_id order), and the gaps
    in that order — the numpy twin of the (gap ASC, cent_id) window."""
    import numpy as np

    xn = np.sqrt((x * x).sum(axis=1))
    gap = 1.0 - (x @ cmat.T) / cn / xn[:, None]  # ||x-c||^2 / 2 on normalized vectors
    order = np.argsort(gap, axis=1, kind="stable")
    return order, np.take_along_axis(gap, order, axis=1)


def _assign_spann_udf(
    cents_rows: "list[tuple[int, list[float]]]", eps: float, rmax: int
):
    """Arrow-batched SPANN assignment: nearest list + boundary replicas
    within the (1+eps) closeness bound, capped at ``rmax`` per vector
    (closest-first) — the first ``rmax`` columns of ``_gap_order``.
    Returns a VARIABLE-length cent_id array (>= 1 entry)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ids, cmat, cn = _cent_matrix(cents_rows)
    bound = (1.0 + eps) ** 2

    def assign(vcol):
        import numpy as np

        order, ranked = _gap_order(np.asarray(vcol.tolist(), dtype=np.float64), cmat, cn)
        order, ranked = order[:, :rmax], ranked[:, :rmax]
        keep = ranked <= bound * ranked[:, :1]
        keep[:, 0] = True  # the nearest list always
        return pd.Series(
            [ids[row[k]].tolist() for row, k in zip(order, keep)]
        )

    return pandas_udf(assign, "array<int>")


def _spann_lists(
    emb: DataFrame, cents_rows: "list[tuple[int, list[float]]]", eps: float = SPANN_EPS
) -> DataFrame:
    """Inverted lists under SPANN replication: one (vec_id, v, norm,
    cent_id) row per list a vector files into (one Arrow pass + explode)."""
    rep = _assign_spann_udf(cents_rows, eps, SPANN_RMAX)
    return emb.select("vec_id", "v", "norm", F.explode(rep(F.col("v"))).alias("cent_id"))


def _arrow_probes(
    emb: DataFrame, cents_rows: "list[tuple[int, list[float]]]"
) -> DataFrame:
    """Probe side via the Arrow matmul assignment: each query's
    IVF_NPROBE nearest lists."""
    probe = _assign_arrow_udf(cents_rows, IVF_NPROBE)
    return _as_query(
        emb.filter(F.col("vec_id") < N_QUERIES),
        F.explode(probe(F.col("v"))).alias("cent_id"),
    )


def topk_ivf_spann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with SPANN-style boundary replication over the TRAINED
    coarse quantizer — recall at equal nprobe bought with index size
    instead of probe width: boundary vectors are filed into EVERY list
    within the (1+eps) closeness bound of their nearest (SPANN §3.2), so
    the failure mode of IVF pruning — the true neighbor sitting just
    across a Voronoi boundary the query didn't probe — disappears for
    eps-close boundaries. Measured at sf0.01/K=16/nprobe=8 vs
    ``topk_ivf_trained``: see 48705ef:SCALE_ann_r11.md §6 (recall and the
    replication factor — the honest cost — are both recorded).

    Plan shape: assignment is one Arrow matmul pass emitting a
    variable-length list array + one explode (the replication); the
    probe side is the Arrow nearest-``nprobe`` assignment; duplicate
    (query, candidate) pairs from multi-list membership collapse in the
    ranker's ``dedup``. K-means training is not SQL-expressible ->
    rows-only driver check; recall bounded vs brute force in
    tests/test_similarity_ivf.py.

    100 TB shape: replication multiplies the INDEX by the measured
    factor (bounded by SPANN_RMAX), not the scan — a query still reads
    nprobe lists; each list is ~factor/K of the corpus.
    """
    from mapreduce_hadoop_spark.operators import ann_index

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    cents_rows = ann_index.coarse_centroids(spark, emb, sf_dir, IVF_K)
    return _rank(
        _probe_pairs(_spann_lists(emb, cents_rows), _arrow_probes(emb, cents_rows)),
        dedup=True,
    )


def topk_ivf_spann_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPANN boundary replication under FIXED centroids — the
    oracle-checkable twin of ``topk_ivf_spann``'s REPLICATION rule.
    Every vector files into its nearest list AND every list whose
    cosine-gap is within ``(1+eps)^2`` of the nearest's, capped at
    ``SPANN_RMAX`` replicas closest-first — exactly
    ``_assign_spann_udf``'s criterion — evaluated in-row over the
    broadcast centroid array, with a window formulation as the DuckDB
    twin, so the driver hash-pins its semantics: a drifted eps, an
    off-by-one in the RMAX clamp, or a wrong tie order at the
    replication cut would all hash-mismatch. eps and RMAX are the
    DEPLOYED constants (``SPANN_EPS``/``SPANN_RMAX``).

    Ties at the bound break identically to the numpy evaluation ((gap
    asc, cent_id) here = stable argsort with cent_id-ascending input
    there); the RMAX tie cut is pinned by a constructed equi-gap
    fixture in tests/test_similarity_ivf.py, an arm organic float64
    data never hits. Probe side is ``topk_ivf``'s (fixed nprobe);
    duplicate (query, candidate) pairs from multi-list membership
    collapse in the ranker's ``dedup`` (the oracle's DISTINCT).

    100 TB shape: identical to ``topk_ivf_spann`` — replication
    multiplies the INDEX (bounded by SPANN_RMAX), never the scan; the
    assignment is map-side, and a query still reads nprobe lists of
    ~factor/K of the corpus each."""
    bound = (1.0 + SPANN_EPS) ** 2
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    cents = _ivf_centroids(emb)
    # Per vector, in one row: gaps to all K broadcast centroids, sorted
    # (gap ASC, cent_id ASC) — the window's exact order; `close` counts
    # the (1+eps)^2-closeness hits against gmin = the sorted head's gap;
    # the kept replica set is the sorted prefix of length
    # greatest(1, least(RMAX, close)).
    sg = _sorted_cents("gap", lambda c: F.lit(1.0) - _cent_cos(c), desc=False)
    gmin = F.element_at(F.col("_sg"), 1)["gap"]
    close = F.size(
        F.filter(F.col("_sg"), lambda x: x["gap"] <= F.lit(bound) * gmin)
    )
    # greatest(1, ..) = _assign_spann_udf's keep[:, 0] = True: the
    # nearest list is ALWAYS kept. Not redundant — when a vector IS
    # a centroid, float rounding can give cos > 1, so gmin < 0 and
    # bound*gmin < gmin flips the closeness test false even for the
    # minimum itself (close = 0); 7 of sf0.01's 16 centroid rows hit
    # this. Without the clamp they would file into NO list.
    lists = (
        emb.crossJoin(F.broadcast(_cents_array(cents)))
        .select("vec_id", "v", "norm", sg.alias("_sg"))
        .select(
            "vec_id",
            "v",
            "norm",
            F.explode(
                F.slice(
                    F.col("_sg"),
                    1,
                    F.greatest(F.lit(1), F.least(F.lit(SPANN_RMAX), close)),
                )
            ).alias("_g"),
        )
        .select("vec_id", "v", "norm", F.col("_g.cent_id").alias("cent_id"))
    )
    return _rank(_probe_pairs(lists, _nearest_probes(emb, cents)), dedup=True)


TOPK_IVF_SPANN_FIXED_ORACLE = f"""
WITH e AS ({EMB_NORM_SQL}),
{IVF_CENTS_SQL},
{_closeness_sql("lists", "vec_id, v, norm, cent_id", "a", "arank",
                SPANN_EPS, 1, SPANN_RMAX)},
{PROBES_SQL},
{_probe_rank_sql("lists", "l", "DISTINCT ")}"""


# --- int8 scalar quantization ----------------------------------------------

QUANT_LEVELS = 127  # symmetric int8 code range [-127, 127]


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard
    compression step before a large-scale ANN index (4x smaller vectors,
    SIMD-friendly integer dot products): per vector, scale = max|x| / 127,
    code_i = round(x_i / scale), exploded to (vec_id, i, code, scale) so
    the driver hashes scalars, not arrays.

    Map-only until the final explode (which is the OUTPUT, not an
    intermediate — a production pipeline would keep the code array in-row
    and write parquet at scan bandwidth). Rounding is the cross-engine
    ``floor(x + 0.5)`` form (round-half-up, three IEEE ops — see the
    README determinism rules); an all-zero vector quantizes to scale 0.0
    and all-zero codes rather than dividing by zero.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = _dvec("embedding")
    # Bind the scale to a column BEFORE the code lambda references it: an
    # aggregate expression inlined into transform() re-evaluates per
    # element (64 array_max passes per vector here — measured 10x the
    # whole operator's cost at sf10). Columns bound in a prior projection
    # evaluate once per row.
    scaled = emb.select(
        "vec_id",
        v.alias("v"),
        (F.array_max(F.transform(v, F.abs)) / F.lit(float(QUANT_LEVELS))).alias(
            "scale_raw"
        ),
    )
    sc = F.col("scale_raw")
    codes = F.when(
        sc == 0.0, F.transform(F.col("v"), lambda x: F.lit(0).cast("int"))
    ).otherwise(
        F.transform(F.col("v"), lambda x: F.floor(x / sc + F.lit(0.5)).cast("int"))
    )
    return scaled.select(
        "vec_id",
        F.round(sc, 6).alias("scale"),
        F.posexplode(codes).alias("pos", "code"),
    ).select("vec_id", (F.col("pos") + 1).alias("i"), "code", "scale")


EMBEDDING_QUANTIZE_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) / {QUANT_LEVELS} AS scale
    FROM e
),
x AS (
    SELECT vec_id, v, scale,
           unnest(generate_series(1, len(v))) AS i
    FROM s
)
SELECT vec_id, CAST(i AS INT) AS i,
       CASE WHEN scale = 0 THEN 0
            ELSE CAST(floor(v[i] / scale + 0.5) AS INT) END AS code,
       round(scale, 6) AS scale
FROM x
"""


# --- product quantization (IVF-PQ's compression half) ------------------------

PQ_M = 4                    # subspaces
PQ_SUB = EMB_DIM // PQ_M    # 16 dims per subspace
PQ_CODE_BITS = 8            # sign bits per subspace -> 256-entry codebooks
PQ_TOPK_BUCKETS = 64        # phase-1 fan-out of the two-phase shortlist top-R

# Candidate rows per query below which the shortlist runs as ONE window
# instead of the bucketed two-phase: the two-phase exists so no reducer
# materializes a query's full candidate list, which binds at 10^8-10^9
# candidates/query — not at anything a single executor sorts comfortably.
# 2^20 rows x ~24 B = ~25 MB per reducer worst case. Output identical
# either way (phase 1 only pre-prunes); the switch removes one full
# shuffle+sort of the scored relation from the local/small-corpus plan.
PQ_TWO_PHASE_MIN = 1 << 20


def _shortlist_topr(
    scored: DataFrame, shortlist: int, candidates_per_query: "int | None"
) -> DataFrame:
    """Top-``shortlist`` rows per query by (adc asc, vec_id) — the shared
    shortlist stage of every PQ scan — with their rank kept as ``sr``.
    Two-phase bucketed when a query's candidate list is too big for one
    reducer (or unknown), one window otherwise; identical output either
    way."""
    if candidates_per_query is None or candidates_per_query > PQ_TWO_PHASE_MIN:
        w1 = Window.partitionBy(
            "query_id", F.col("vec_id") % PQ_TOPK_BUCKETS
        ).orderBy(F.col("adc").asc(), F.col("vec_id"))
        scored = (
            scored.select("*", F.row_number().over(w1).alias("lr"))
            .filter(F.col("lr") <= shortlist)
            .drop("lr")
        )
    w2 = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    return scored.select("*", F.row_number().over(w2).alias("sr")).filter(
        F.col("sr") <= shortlist
    )

# ADC shortlist per query (exact-re-ranked to TOP_K): SCALE-ADAPTIVE,
# max(MIN, n // DIV). A fixed 50-deep shortlist collapses as the corpus
# grows: sign-orthant codebooks are one k-means step, so their ADC
# distortion is a CONSTANT of the data — the true neighbor's expected
# ADC rank therefore grows LINEARLY in n, and holding recall needs
# shortlist ~ n/10. Measured (embeddings: n=500 at sf0.001 AND sf0.01,
# 2000 at sf0.1, 20000 at the derived sf1): shortlist 50 = n/10 at
# n=500 -> pq recall@5 0.86; at n=2000, 50 (n/40) -> 0.36, 200 (n/10)
# -> 0.82, 800 -> 1.00. The honest reading: with one-step codebooks the
# exact re-rank reads ~10% of the corpus' full vectors, so PQ's scan
# savings cap at ~10x unless codebook distortion IMPROVES with n —
# that is exactly what trained (Lloyd-iterated) codebooks buy and why
# they are the named next lever; the shortlist law is the stopgap that
# keeps recall honest meanwhile. The oracle derives the SAME integer
# from count(*), so the plans stay hash-comparable.
PQ_SHORTLIST_MIN = 50
PQ_SHORTLIST_DIV = 10
PQ_SHORTLIST_SQL = (
    f"greatest({PQ_SHORTLIST_MIN}, (SELECT count(*) FROM e) // {PQ_SHORTLIST_DIV})"
)


def _pq_shortlist(n: int) -> int:
    return max(PQ_SHORTLIST_MIN, n // PQ_SHORTLIST_DIV)


# Embedding-corpus row count: persisted with the ANN index artifacts
# (ann_index.corpus_count), so a warm session derives scale-adaptive
# parameters (shortlist depth, K) with ZERO Spark jobs — a per-session
# count() job is a cold-corpus-only cost.
def _emb_count(emb: DataFrame, sf_dir: str) -> int:
    from mapreduce_hadoop_spark.operators import ann_index

    return ann_index.corpus_count(emb, sf_dir)


def _pq_code(nv: Column, m: int) -> Column:
    """8-bit sign-pattern code of subspace ``m`` (bit j = sign of dim j)."""
    c: Column = F.lit(0)
    for j in range(PQ_CODE_BITS):
        c = c + F.when(
            F.element_at(nv, m * PQ_SUB + j + 1) >= 0.0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return c.cast("int")


def topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: top-5 cosine neighbors for the demo query
    set via an ADC (asymmetric distance computation) scan over 4-byte PQ
    codes, exact-re-ranked on a scale-adaptive (max(50, n/10))-deep shortlist.

    The memory story int8/IVF/LSH don't cover: vectors are normalized
    (so L2^2 = 2 - 2*cos and ADC ranking == cosine ranking), split into
    M=4 subspaces of 16 dims, and each subspace is coded to 1 byte —
    64 float32s become 4 bytes (64x), which is what lets a 100 TB corpus'
    index live in cluster RAM. Codebooks are one aggregation pass
    (sign-pattern assignment + exact fixed-point centroid means — one
    k-means step from a deterministic seeding, so the oracle reproduces
    it bit-for-bit); the scan is 4 broadcast-hash lookups + 3 adds per
    candidate instead of a 64-term dot product. The ADC lookup tables
    (queries x 4 x 256 <= 10k rows) are the broadcast side of every join
    — the same shape FAISS serves from — so scoring is map-side against
    a single scan of the 4-byte codes; no shuffle touches the corpus
    until the two-phase shortlist top-R (phase 1 fans out on
    vec_id % 64 so no single reducer sees a full query's candidates —
    the 1000-executor-safe form of top-k-per-query). At sf10 the ADC
    scan reads ~1/16th the bytes of the brute-force scan; recall@5 is
    bounded below by tests/test_similarity_pq.py against bruteforce.

    Centroid means quantize each coordinate with the cross-engine-exact
    ``floor(x*1e9 + 0.5)`` nano fixed point (signed-safe, unlike
    ``round()`` whose half-tie path is engine-specific), sum as BIGINTs
    (order-independent), and divide once at the edge; every float fold is
    the strict left-to-right form the other similarity oracles share.

    The codebook aggregation is ONE exact fixed-point Spark pass over the
    corpus (``_fixed_books_rows``); its model-sized result is collected and
    the query side is built driver-side (``_query_side``: the per-query ADC
    lookup arrays come from ``_adc_arrays_np``, the identical ascending-d
    IEEE accumulation of ``0.0D + (q-cd)^2 + ...``, so every ``t`` is
    bit-for-bit the in-plan value), shipped as LocalTableScans. The DuckDB
    oracle computes the books, the ADC tables and the shortlist entirely in
    SQL, and the value-hash gate pins this plan against it.
    """
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    n = _emb_count(emb, sf_dir)
    nvt = emb.select(
        "vec_id", _div_by("v", "norm").alias("nv")
    )
    codes = nvt.select(
        "vec_id",
        "nv",
        *[_pq_code(F.col("nv"), m).alias(f"c{m}") for m in range(PQ_M)],
    )
    # Codebooks are recomputed per invocation (partial aggregation bounds
    # the exchange at 1,024 rows per map task) — nothing is cached across
    # runs.
    q, qarr = _query_side(spark, emb, sf_dir, _fixed_books_rows(nvt), PQ_M, PQ_SUB)
    return _adc_rank(
        codes,
        qarr,
        emb.select("vec_id", "v"),
        q,
        _pq_shortlist(n),
        candidates_per_query=n,
        persist_codes=True,
    )


def _strict_dot(a: "list[float]", b: "list[float]") -> float:
    """Python twin of ``_dot``'s JVM fold: strict left-to-right IEEE
    double accumulation from 0.0 — bit-identical by construction."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _query_nv_rows(emb: DataFrame, sf_dir: str) -> "list[tuple[int, list[float]]]":
    """Driver-side normalized query vectors ``[(query_id, nv)]`` — the
    arithmetic twin of ``nvt.filter(vec_id < N_QUERIES)``: norm =
    sqrt(strict-fold(v*v)) and nv_i = v_i / norm are the exact IEEE
    double ops the JVM path performs (sqrt is correctly rounded in both
    runtimes), so cosines computed downstream from these values are
    bit-identical to the pre-fusion plan's. Backed by the persisted
    query-side artifact (ann_index.query_vectors): warm sessions build
    the whole query side with ZERO Spark jobs."""
    import math

    from mapreduce_hadoop_spark.operators import ann_index

    rows = ann_index.query_vectors(emb, sf_dir, N_QUERIES)
    out = []
    for qid, v in rows:
        norm = math.sqrt(_strict_dot(v, v))
        out.append((qid, [x / norm for x in v]))
    return out


def _adc_arrays_np(
    qvecs: "list[list[float]]",
    rows: "list[tuple]",
    m_subspaces: int,
    sub: int,
    list_ids: "list[int] | None" = None,
):
    """Dense ADC lookup arrays computed driver-side from codebook rows:
    for query row g, subspace m, code c —
    ts[g][m][c] = sum_d (qvec[m*sub+d] - cd[d])^2.

    ``rows`` is ``[(m, code, cd)]`` for books shared by every query row,
    or ``[(cent_id, m, code, cd)]`` for per-list books, in which case row
    g scores against the books of list ``list_ids[g]``. Either way the
    books become a +inf-padded (M, 256, sub) tensor — or a (G, M, 256,
    sub) stack, one per query row — and both broadcast through the same
    ascending-d accumulation, so every entry is bit-identical to the JVM
    zip_with/aggregate fold (numpy elementwise ops are the same IEEE
    doubles). Book cells never emitted by the encoder are +inf, and the
    arrays span the FULL byte range (256 slots) rather than 1 + max
    observed code: a books artifact loaded sparse at the top would
    otherwise make ``element_at`` run past the array and return NULL,
    which sorts NULLS FIRST into the asc shortlist; a +inf cell can never
    win it. Returns a list of M (G, 256) float64 arrays."""
    from collections import defaultdict

    import numpy as np

    k = 256
    books: "dict[tuple, object]" = defaultdict(
        lambda: np.full((m_subspaces, k, sub), np.inf)
    )
    for *key, m, code, cd in rows:
        books[tuple(key)][m, code] = cd
    if rows and len(rows[0]) == 4:
        bt = np.stack([books[(cid,)] for cid in list_ids])
    else:
        bt = books[()]
    x = np.asarray(qvecs, dtype=np.float64)
    out = []
    for m in range(m_subspaces):
        acc = np.zeros((len(x), k), dtype=np.float64)
        for d in range(sub):
            diff = x[:, m * sub + d][:, None] - bt[..., m, :, d]
            acc = acc + diff * diff
        out.append(acc)
    return out


def _query_side(
    spark: SparkSession,
    emb: DataFrame,
    sf_dir: str,
    rows: "list[tuple]",
    m_subspaces: int,
    sub: int,
    probe_lists: "list[list[int]] | None" = None,
    cents_rows: "list[tuple[int, list[float]]] | None" = None,
    hist: "list[tuple[int, int, int]] | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """The driver-built query side of every PQ serve, as LOCAL relations
    (LocalTableScans, so broadcasting them costs no Spark job): returns
    ``(q, qarr)``.

    - ``q`` is (query_id, qnv), the normalized query vectors the exact
      re-rank joins (``_query_nv_rows``).
    - ``qarr`` carries M dense 256-slot ADC lookup arrays (columns
      `0`..`M-1`, ``_adc_arrays_np``) against the books ``rows``. Flat PQ:
      one row per query_id. IVF-PQ (``probe_lists`` given): one row per
      (query_id, cent_id) probed list, scored on the query residual
      qnv - ncv_L, where ncv_L normalizes list L's centroid from
      ``cents_rows`` with the strict fold — the same doubles the JVM
      residual ``_div_by`` + ``zip_with`` produced.
    - ``hist`` (the adaptive flat serve) adds a per-query ``bulk`` column,
      the mean candidate ADC (``_bulk_adc_estimates``) over the same
      arrays.
    """
    import math

    qnv_rows = _query_nv_rows(emb, sf_dir)
    q = spark.createDataFrame(qnv_rows, "query_id long, qnv array<double>")
    fields = ["query_id long"]
    if probe_lists is None:
        keys: "list[tuple]" = [(qid,) for qid, _ in qnv_rows]
        qvecs = [nv for _, nv in qnv_rows]
        list_ids = None
    else:
        fields.append("cent_id int")
        ncv = {}
        for cid, cv in cents_rows:
            norm = math.sqrt(_strict_dot(cv, cv))
            ncv[cid] = [x / norm for x in cv]
        keys, qvecs = [], []
        for (qid, nv), plist in zip(qnv_rows, probe_lists):
            for cid in plist:
                keys.append((qid, cid))
                qvecs.append([a - b for a, b in zip(nv, ncv[cid])])
        list_ids = [cid for _qid, cid in keys]
    adc = _adc_arrays_np(qvecs, rows, m_subspaces, sub, list_ids)
    if hist is not None:
        fields.append("bulk double")
        bulk = _bulk_adc_estimates(adc, hist, m_subspaces)
        keys = [(*key, b) for key, b in zip(keys, bulk)]
    fields += [f"`{m}` array<double>" for m in range(m_subspaces)]
    qarr = spark.createDataFrame(
        [
            (*key, *[adc[m][g].tolist() for m in range(m_subspaces)])
            for g, key in enumerate(keys)
        ],
        ", ".join(fields),
    )
    return q, qarr


def _adc_rank(
    codes: DataFrame,
    qarr: DataFrame,
    raw: DataFrame,
    q: DataFrame,
    shortlist: int,
    m_subspaces: int = PQ_M,
    candidates_per_query: "int | None" = None,
    persist_codes: bool = False,
    adaptive: bool = False,
) -> DataFrame:
    """The one PQ serving scan: ADC scan -> shortlist -> exact re-rank.

    ``codes`` is (vec_id, [cent_id,] c0..c{M-1}), ``raw`` the (vec_id, v)
    double corpus for the re-rank, and ``q``/``qarr`` the query side from
    ``_query_side``. The fan-out follows ``qarr``'s shape:

    - flat PQ (one ``qarr`` row per query): a broadcast nested-loop
      crossJoin of every code row with every query;
    - IVF-PQ (one row per (query_id, cent_id) probed list): a broadcast
      hash join on cent_id, which IS the probe filter — a lookup-array row
      exists only for a probed list.

    Each candidate then pays M O(1) array ``element_at`` probes: map<code,
    t> columns linear-scan ArrayBasedMapData (measured slower), and one
    array join beats M broadcast hash joins as M grows.

    ``persist_codes`` caches the codes relation for callers whose codes
    carry an in-plan codebook aggregation in their lineage; artifact
    scans are read once and stay uncached.

    ``adaptive=True`` (the trained flat primary): ``qarr`` also carries a
    per-query ``bulk`` column and the keep depth becomes per-query — the
    floor ``shortlist``, ``PQ_ADAPT_WIDEN`` x it, or ``PQ_ADAPT_WIDEN_DEEP``
    x it, by the covered-gap signal (see the constants' comment). The
    widened budget flows through the same window exchange; the signal is
    window aggregates over the already-partitioned ranked relation — no
    new shuffle, no new scan.
    """
    keyed = "cent_id" in qarr.columns
    codes = codes.select(
        "vec_id",
        *(["cent_id"] if keyed else []),
        *[f"c{m}" for m in range(m_subspaces)],
    )
    if persist_codes:
        codes = persisted(codes)
    if keyed:
        sc = codes.join(F.broadcast(qarr), "cent_id")
    else:
        sc = codes.crossJoin(F.broadcast(qarr))
    t_sum = " + ".join(f"element_at(`{m}`, c{m} + 1)" for m in range(m_subspaces))
    scored = sc.select(
        "query_id",
        *(["bulk"] if adaptive else []),
        "vec_id",
        F.round(F.expr(f"0.0D + {t_sum}"), 6).alias("adc"),
    ).filter(F.col("vec_id") != F.col("query_id"))

    # Shortlist (one window or bucketed two-phase by candidate volume —
    # see _shortlist_topr; identical output either way). The adaptive
    # serve ranks down to the deepest budget once, then keeps per query.
    depth = shortlist * PQ_ADAPT_WIDEN_DEEP if adaptive else shortlist
    ranked = _shortlist_topr(scored, depth, candidates_per_query)
    if not adaptive:
        short = ranked.drop("sr")
    else:
        wq = Window.partitionBy("query_id")
        a_top = F.max(F.when(F.col("sr") <= TOP_K, F.col("adc"))).over(wq)
        a_floor = F.max(F.when(F.col("sr") <= shortlist, F.col("adc"))).over(wq)
        gap_bulk = F.greatest(F.col("bulk") - a_top, F.lit(1e-9))
        fire = (a_floor - a_top) < F.lit(PQ_ADAPT_COVER) * gap_bulk
        fire_deep = (a_floor - a_top) < F.lit(PQ_ADAPT_DEEP_COVER) * gap_bulk
        short = (
            ranked.select("*", fire.alias("_fire"), fire_deep.alias("_deep"))
            .filter(
                (F.col("sr") <= shortlist)
                | (F.col("_fire") & (F.col("sr") <= shortlist * PQ_ADAPT_WIDEN))
                | F.col("_deep")
            )
            .drop("sr", "bulk", "_fire", "_deep")
        )

    # Exact re-rank of the shortlist: the query vectors join the Q*R
    # survivors INSIDE the broadcast build (q is query-sized), so the
    # final stage is ONE broadcast-hash join against one scan of the RAW
    # (vec_id, v) corpus, with the normalize-fold + cosine evaluated ABOVE
    # the join — only the ~Q*R survivors pay the O(d) folds (``_div_by``
    # keeps the norm fold once per row).
    rer = raw.join(F.broadcast(short.join(F.broadcast(q), "query_id")), "vec_id")
    cos = _dot(F.col("qnv"), _div_by(F.col("v"), F.sqrt(_dot(F.col("v"), F.col("v")))))
    return _rank(rer, cos, carry=("adc",))


def _pq_books_sql(vec: str, src: str, key: str = "", model_where: str = "") -> str:
    """The ``codes``, ``subs``, ``cb`` and ``cent`` CTEs of a sign-orthant
    PQ oracle: each row of ``src`` coded on its ``vec`` array, then the
    exact fixed-point cell means per (``key``, m, code). ``key`` is the
    list key (``"cent_id"`` for per-list IVF-PQ books, ``""`` for one
    global book); ``model_where`` restricts the rows the books see."""
    k = f"{key}, " if key else ""
    codes = ", ".join(
        " + ".join(
            f"CASE WHEN {vec}[{m * PQ_SUB + j + 1}] >= 0.0 THEN {1 << j} ELSE 0 END"
            for j in range(PQ_CODE_BITS)
        )
        + f" AS c{m}"
        for m in range(PQ_M)
    )
    case_code = "CASE ms.m " + " ".join(
        f"WHEN {m} THEN c{m}" for m in range(PQ_M - 1)
    ) + f" ELSE c{PQ_M - 1} END"
    sums = ",\n         ".join(
        f"sum(CAST(floor({vec}[m*{PQ_SUB}+{d}] * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS s{d}"
        for d in range(1, PQ_SUB + 1)
    )
    cents = ", ".join(
        f"CAST(s{d} AS DOUBLE)/n/1e9 AS cd{d}" for d in range(1, PQ_SUB + 1)
    )
    return f"""codes AS (SELECT vec_id, {k}{vec},
          {codes}
          FROM {src}),
subs AS (SELECT {k}ms.m AS m, {case_code} AS code, {vec}
         FROM codes, (SELECT unnest(range({PQ_M})) AS m) ms{model_where}),
cb AS (SELECT {k}m, code, count(*) AS n,
         {sums}
       FROM subs GROUP BY {k}m, code),
cent AS (SELECT {k}m, code, {cents} FROM cb)"""


def _pq_adc_terms_sql(qvec: str) -> str:
    """Squared distance of query array ``qvec`` to cell ``c`` in its
    subspace ``c.m``, as one left-to-right sum over the PQ_SUB dims."""
    return " + ".join(
        f"({qvec}[c.m*{PQ_SUB}+{d}] - c.cd{d}) * ({qvec}[c.m*{PQ_SUB}+{d}] - c.cd{d})"
        for d in range(1, PQ_SUB + 1)
    )


def _pq_rank_sql(codes: str, alias: str, key: str = "") -> str:
    """The tail every PQ oracle shares: ADC-score each row of ``codes``
    (aliased ``alias``) against the ``adc`` table, joined per subspace on
    the code (and on the list ``key`` when given), then the two-phase
    shortlist (``local`` -> ``short``), the exact re-rank ``rer`` and
    the final top-K. Needs the ``e``, ``nvt``, ``q`` and ``adc`` CTEs."""
    joins = "\n  ".join(
        "JOIN adc a{m} ON {on}a{m}.m = {m} AND a{m}.code = {alias}.c{m}".format(
            m=m, alias=alias, on=f"a{m}.{key} = {alias}.{key} AND " if key else ""
        )
        + ("" if m == 0 else f" AND a{m}.query_id = a0.query_id")
        for m in range(PQ_M)
    )
    return f"""scored AS (
  SELECT a0.query_id, {alias}.vec_id,
         round(CAST(0 AS DOUBLE) + {" + ".join(f"a{m}.t" for m in range(PQ_M))}, 6) AS adc
  FROM {codes}
  {joins}
  WHERE {alias}.vec_id <> a0.query_id
),
local AS (SELECT query_id, vec_id, adc FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id, vec_id % {PQ_TOPK_BUCKETS}
        ORDER BY adc, vec_id) AS lr
    FROM scored) WHERE lr <= {PQ_SHORTLIST_SQL}),
short AS (SELECT query_id, vec_id, adc FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc, vec_id) AS sr
    FROM local) WHERE sr <= {PQ_SHORTLIST_SQL}),
rer AS (SELECT s.query_id, s.vec_id,
          round({DOT_SQL.format(a="qq.qnv", b="nvt.nv")}, 6) AS cosine,
          s.adc
        FROM short s
        JOIN nvt ON nvt.vec_id = s.vec_id
        JOIN q qq ON qq.query_id = s.query_id)
SELECT query_id, vec_id, cosine, adc, rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM rer)
WHERE rank <= {TOP_K}
"""


def _topk_pq_oracle(base_only: bool = False) -> str:
    """``topk_pq`` in DuckDB SQL. ``base_only`` restricts the MODEL rows
    (the codebook aggregation) to the append demo's derived base,
    ``vec_id < greatest(10, n*9//10)``: the fixed-books append serve
    restated over the original corpus. Candidates whose codes are unseen
    in the base drop out of the inner ADC join, mirroring the +inf
    exclusion (see the parity bound in ``topk_pq_fixed``)."""
    wm_cte = (
        f"wm AS (SELECT greatest({N_QUERIES}, (count(*) * 9) // 10) AS w FROM e),\n"
        if base_only
        else ""
    )
    model_where = (
        "\n         WHERE codes.vec_id < (SELECT w FROM wm)" if base_only else ""
    )
    return f"""
WITH e AS ({EMB_NORM_SQL}),
nvt AS (SELECT vec_id, [v[i]/norm for i in range(1, {EMB_DIM + 1})] AS nv FROM e),
{wm_cte}{_pq_books_sql("nv", "nvt", model_where=model_where)},
q AS (SELECT vec_id AS query_id, nv AS qnv FROM nvt WHERE vec_id < {N_QUERIES}),
adc AS (SELECT q.query_id, c.m, c.code,
          CAST(0 AS DOUBLE) + {_pq_adc_terms_sql("q.qnv")} AS t
        FROM q, cent c),
{_pq_rank_sql("codes cd", "cd")}"""


TOPK_PQ_ORACLE = _topk_pq_oracle()


# --- trained (Lloyd) PQ codebooks -------------------------------------------

# Cells per subspace codebook for the TRAINED variants (the FAISS 8-bit
# default). Sign-orthant books also have 256 cells, but their cell
# geometry is fixed by the coding scheme; trained cells move to the data.
PQ_TRAINED_K = 256

# Subspace count for the TRAINED variants: 8 subspaces x 8 dims (8-byte
# codes, 32x compression) vs the sign-orthant twin's 4 x 16. Measured at
# sf0.1 (n=2000, shortlist 50): M=4 trained recalls 0.68 — a 16-dim cell
# with ~8 points cuts distortion only ~k^(-2/16) vs one cell, too coarse
# regardless of training — while M=8 recalls 0.88 and M=16 1.00. M=8 is
# the FAISS PQ8 shape for 64-dim vectors: the smallest code that clears
# the 0.8 recall bar at a CONSTANT shortlist, so the scan stays 32x
# lighter than brute force while the re-rank no longer grows with n.
PQ_TRAINED_M = 8
PQ_TRAINED_SUB = EMB_DIM // PQ_TRAINED_M

# Shortlist law under TRAINED codebooks: max(50, n/100) — near-constant,
# vs the sign-orthant n/10. The difference is the whole point: one-step
# sign-orthant books have CONSTANT ADC distortion (a property of the
# scheme, not the data), so the true neighbor's expected ADC rank grows
# linearly in n and recall needs shortlist ~ n/10 (the sign-orthant
# stopgap). Lloyd-trained cells shrink as data fills them (distortion
# ~ n^{-2/d} per cell in the fixed-K regime), so the neighbor's ADC rank
# stays near the top and a near-constant re-rank suffices — measured in
# 48705ef:SCALE_ann_r11.md; recall floors pinned in
# tests/test_similarity_pq.py.
PQ_TRAINED_SHORTLIST_DIV = 100

# Residual IVF-PQ re-ranks 2x deeper (still near-constant): residual ADC
# noise compounds coarse-assignment boundary effects, and the measured
# curve at sf0.1 plateaus at the pruning ceiling only from depth ~100
# (depth 50: 0.60, depth 100: 0.72 = the offline ceiling; M=16 at depth
# 50 buys the same for 2x the scan joins — the deeper re-rank of 100
# rows/query is the cheaper side of that trade).
PQ_TRAINED_IVF_SHORTLIST_MIN = 100

# The adaptive probe width (IVFPQ_PROBE_EPS, defined with the IVF
# family) prices the second failure axis: residual-ADC
# distortion. On clustered corpora the global residual book pools many
# disjoint clouds and the true neighbor's ADC rank degrades, so the
# near-constant re-rank misses it even when its list WAS probed
# (measured at n=20k mutated: probe-ALL lists still reads 0.68 at the
# base shortlist; base probes at 10x shortlist also 0.68; both dials
# together 0.94). mean(width)/floor is a free driver-side clusteredness
# signal — organic 1.55 vs mutated 2.2 at eps=0.3 — and the shortlist
# scales by its SQUARE (probe volume x per-candidate distortion),
# capped at the sign-orthant n/10 law so the adaptive path can never
# re-rank deeper than the stopgap it replaced.


# Per-query adaptive shortlist: the flat trained
# path widens a query's exact-re-rank shortlist by PQ_ADAPT_WIDEN iff
# the ADC gap covered between rank TOP_K and rank `shortlist` is less
# than PQ_ADAPT_COVER of the gap to the corpus BULK (the mean ADC of a
# random candidate, computed driver-side from the persisted code
# histogram x the query's ADC table — model-sized, zero extra scan).
# Geometry: when the shortlist boundary has barely separated from the
# top while the decoy bulk sits far away, the true neighbor is likely
# buried among near-equal ADC values (quantization noise >= local gaps)
# and the re-rank needs more candidates; when the boundary has traveled
# well toward the bulk, the top ranks are already separated and the
# floor suffices. Calibration: five corpora first showed a clean gap
# (losses <= 0.333, lossless >= 0.367); measuring the gap itself
# (48705ef:SCALE_ann_r15.md §3 — intermediate mutation factors 20/30/50,
# n=40k/60k/100k) found it is not clean: 1-2-neighbor losses occur up to
# covered = 0.372, and 4x widening RECOVERS every one of them
# (recall_widened 1.0 at 0.354/0.358/0.359/0.372), while the measured
# no-benefit cluster starts at 0.386 (the n=200k case whose 0.96 stays
# 0.96 widened). The threshold therefore moved 0.35 -> 0.38 — above
# every measured widening-helps query, below every measured
# no-benefit one. Firing a LOSSLESS query is output-neutral (a
# superset re-rank keeps an already-true top-k) and costs one
# request-sized widened join, so the residual exposure of the move is
# wall, not correctness. Measured effect: n=40k recall 0.86 -> 0.98,
# n=60k 0.96 -> 1.00, n=100k 0.98 -> 1.00; organic sf0.1 (all-fire,
# 0.80 -> 1.00) and the no-fire corpora (sf0.001 >= 0.41, sf1 replicas
# >= 0.623, n=200k >= 0.386) are unchanged. Like the IVF probe dial,
# the signal spends re-rank budget only where recall is lost:
# per-query arithmetic over the already-shuffled ranked relation,
# request-sized extra join rows, zero new distributed passes.
# The widen is 8x, not 4x: the second corpus family
# (48705ef:SCALE_ann_r17.md §2 — seeded Gaussian mixtures, cluster
# count/overlap as the axes instead of the replica recipe) produced the
# first measured ordinary fire 4x does NOT recover: covered = 0.369
# (c4_wide, 4 broad clusters) reads recall 0.8 at 4x and 1.0 at 8x.
# Family 1's table (every lossy >= 0.354 recovers at 4x) made 4x look
# sufficient; it was a family-shape artifact. 8x covers every measured
# point in BOTH families; the cost is request-sized (fires re-rank
# 8 x a near-constant shortlist through the same window exchange), and
# the change is output-neutral on every organic gate corpus (fires
# there are lossless at 4x, so the wider re-rank keeps an already-true
# top-k — verified hash-identical at all five gate scales by
# 48705ef:tools/dial_escalation_check.py).
PQ_ADAPT_WIDEN = 8
PQ_ADAPT_COVER = 0.38
# ESCALATING widen: the widen factor
# keys to the covered magnitude — a deeper-buried query (smaller
# covered gap) gets a bigger exact-re-rank superset. Calibration is the
# f20 per-query table (48705ef:SCALE_ann_r15.md §3/§7): every
# measured lossy query with covered >= 0.354 fully recovers at 4x,
# while the one below (f20's covered = 0.333) reads 0.8 at 4x AND 8x
# and needs 16x (6400 of 40k candidates — 16% of that corpus for that
# one query); the deep band therefore jumps straight to 16x, and its
# edge 0.34 sits in the measured void (0.333, 0.354). The f20
# covered = 0.314 query also lands in the deep band — it only NEEDS 4x,
# but a lossless superset keeps an already-true top-k, so over-widening
# costs request-sized wall, never output. Same neutrality argument for
# the organic gate corpora: sf0.1 fires read recall 1.0 at 4x
# (48705ef:SCALE_ann_r14.md), so any deep fire there re-ranks a superset of an
# already-complete top-k — verified hash-identical at every gate scale
# by 48705ef:tools/dial_escalation_check.py.
PQ_ADAPT_WIDEN_DEEP = 16
PQ_ADAPT_DEEP_COVER = 0.34


def _codes_histogram(
    spark: SparkSession,
    codes: DataFrame,
    sf_dir: str,
    m_subspaces: int,
    k: int,
    tag: str,
) -> "list[tuple[int, int, int]]":
    """Per-(subspace, code) frequency of the SERVED codes relation —
    the model-sized statistic behind the adaptive-shortlist bulk
    estimate. One aggregation job on a cold corpus, persisted next to
    the codes artifact (same recipe key, so a retrain orphans both);
    warm sessions load it with zero Spark jobs. ``frozen_base=False``:
    on an appended corpus the histogram must describe base+delta, not
    the base snapshot. On a LINEAGE corpus the name additionally carries
    ``ann_index.lineage_suffix``, the delta artifact's key: an in-place
    ``ann_base.json`` edit with unchanged embeddings bytes changes the
    served base+delta union and must orphan the histogram with it, or a
    stale bulk estimate would perturb the adaptive fire signal silently."""
    from mapreduce_hadoop_spark.operators import ann_index

    fname = "hist_" + ann_index.codes_artifact_name(tag, m_subspaces, k)
    fname += ann_index.lineage_suffix(sf_dir)

    def compute() -> "list[tuple[int, int, int]]":
        agg = (
            codes.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(m).alias("m"), F.col(f"c{m}").alias("code")
                            )
                            for m in range(m_subspaces)
                        ]
                    )
                ).alias("s")
            )
            .groupBy("s.m", "s.code")
            .count()
        )
        return sorted(
            (int(r["m"]), int(r["code"]), int(r["count"])) for r in agg.collect()
        )

    return [
        (int(m), int(c), int(f))
        for m, c, f in ann_index.fixed_model(
            sf_dir, fname, ["m", "code", "freq"], compute, frozen_base=False
        )
    ]


def _bulk_adc_estimates(
    adc_arrays: "list", hist_rows: "list[tuple[int, int, int]]", m_subspaces: int
) -> "list[float]":
    """Per-query mean ADC of a random candidate: sum_m sum_c
    freq[m,c]/n * ts[q,m,c] — driver-side arithmetic over the code
    histogram and the dense ADC lookup arrays. Unoccupied cells carry
    +inf in the arrays but zero frequency; they are masked out rather
    than multiplied (0 * inf is NaN)."""
    import numpy as np

    k = adc_arrays[0].shape[1]
    freq = np.zeros((m_subspaces, k))
    for m, c, f in hist_rows:
        freq[m, c] = f
    n = freq[0].sum()
    out = []
    for g in range(adc_arrays[0].shape[0]):
        tot = 0.0
        for m in range(m_subspaces):
            t = adc_arrays[m][g]
            mask = freq[m] > 0
            tot += float((freq[m][mask] * t[mask]).sum())
        out.append(float(tot / n))
    return out


def _pq_trained_shortlist(n: int) -> int:
    return max(PQ_SHORTLIST_MIN, n // PQ_TRAINED_SHORTLIST_DIV)


def _pq_trained_ivf_shortlist(n: int) -> int:
    return max(PQ_TRAINED_IVF_SHORTLIST_MIN, n // PQ_TRAINED_SHORTLIST_DIV)


def _pq_encode_udf(books, residual: bool = False):
    """Arrow-batched PQ encoder: nearest-cell code per subspace.

    ``books`` is a numpy (M, K, SUB) array captured in the UDF closure
    (131 KB at M=4, K=256 — ships with the task, no broadcast needed).
    Encoding is argmin_c ||x_m - c||^2 per subspace — a (B, SUB) x
    (SUB, K) matmul per batch, exactly how FAISS encodes (BLAS), and
    the one place in the PQ family where a vectorized Pandas UDF beats
    any built-in formulation: the JVM alternative is either an n x K
    join + argmin shuffle or an interpreted higher-order-function fold
    over K cells per row. Map-only, deterministic (np.argmin takes the
    lowest index on ties).

    The UDF takes PLAIN columns — ``(v, norm)``, plus ``ncv`` when
    ``residual`` — and normalizes (and subtracts the list centroid)
    inside numpy: elementwise IEEE float64 ops, bit-identical to the JVM
    ``transform``/``zip_with`` forms they replace. Two reasons: UDF
    argument expressions must stay simple (Spark cannot evaluate a
    nested lambda-variable HOF inlined into a Python UDF argument —
    INTERNAL_ERROR), and the JVM normalization paid the CollapseProject
    O(d^2) norm-refold per row (see ``_div_by``) on every cold encode.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(books, dtype=np.float64)
    m_sub, _k, sub = books.shape
    # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is constant per
    # row, so argmin needs only the last two terms.
    cnorms = (books**2).sum(axis=2)  # (M, K)

    def _codes(x):
        out = np.empty((len(x), m_sub), dtype=np.int32)
        for m in range(m_sub):
            xm = x[:, m * sub : (m + 1) * sub]
            out[:, m] = np.argmin(cnorms[m] - 2.0 * (xm @ books[m].T), axis=1)
        return pd.Series(list(out))

    def enc(vcol, normcol):
        x = np.asarray(vcol.tolist(), dtype=np.float64)
        return _codes(x / normcol.to_numpy()[:, None])

    def enc_res(vcol, normcol, ncvcol):
        x = np.asarray(vcol.tolist(), dtype=np.float64)
        nc = np.asarray(ncvcol.tolist(), dtype=np.float64)
        return _codes(x / normcol.to_numpy()[:, None] - nc)

    # No type hints: module-level `from __future__ import annotations`
    # stringifies them and pandas_udf's hint inference cannot resolve
    # 'pd.Series' from this module's globals — the explicit returnType
    # form infers SCALAR eval type without hints.
    return pandas_udf(enc_res if residual else enc, "array<int>")


def _assign_topn_np(x, cents_rows: "list[tuple[int, list[float]]]", n: int):
    """Shared core of coarse-list assignment: top-``n`` centroid ids by
    cosine for each row of the float64 matrix ``x`` — ONE routine used by
    both the Arrow-batched corpus UDF (``_assign_arrow_udf``) and the
    driver-side query prep of the fused trained paths, so the two sides
    cannot drift. Ranking: cosine desc (the row norm scales all centroids
    equally, so the matmul ranks it), ties by cent_id asc (ids pre-sorted
    + stable argsort). Returns ``list[list[int]]``."""
    import numpy as np

    ids, cmat, cn = _cent_matrix(cents_rows)
    scores = (x @ cmat.T) / cn
    idx = np.argsort(-scores, axis=1, kind="stable")[:, :n]
    return [ids[row].tolist() for row in idx]


def _probe_lists_adaptive(
    x,
    cents_rows: "list[tuple[int, list[float]]]",
    nprobe_min: int,
    eps: float,
    nprobe_max: int,
) -> "list[list[int]]":
    """Query-side ADAPTIVE probe selection: SPANN's (1+eps) closeness
    rule applied to the PROBE set instead of the posting lists — a query
    probes its nearest list plus every list whose cosine-gap is within
    ``(1+eps)^2`` of the nearest's, floored at ``nprobe_min`` and capped
    at ``nprobe_max``.

    Why: a fixed nprobe = K/3 is the wrong constant for CLUSTERED
    corpora — on the mutated crossover corpus at n=20k the coarse
    quantizer splits each replica cloud's boundary mass across many
    near-equidistant lists and ivfpq_trained read recall 0.54 at the
    fixed width, while the same constant scored 1.00 on the organic sf1
    derivation. The gap profile distinguishes the two cases per query:
    an interior query's second-nearest list is far (few lists pass the
    eps bound — it keeps the floor), a boundary query sits between
    near-equidistant lists (many pass — it widens its own probe set).
    Recall is bought exactly where it is lost. Measured in
    48705ef:SCALE_ann_r13.md; ties break by cent_id (``_gap_order``), and the
    rule is hash-verified through its window twin ``topk_ivf_adaptive``.

    Driver-side only (runs over the request-sized query matrix against
    the broadcast-sized centroid list); the corpus-side assignment is
    unchanged — at 100 TB this adds zero distributed work, it only
    changes how many posting lists a query's ADC join matches."""
    ids, cmat, cn = _cent_matrix(cents_rows)
    order, ranked = _gap_order(x, cmat, cn)
    bound = (1.0 + eps) ** 2 * ranked[:, :1]
    nprobe_max = min(nprobe_max, len(ids))
    nprobe_min = min(nprobe_min, len(ids))
    out = []
    for row, r, b in zip(order, ranked, bound):
        width = int((r <= b).sum())
        width = max(nprobe_min, min(nprobe_max, width))
        out.append(ids[row[:width]].tolist())
    return out


def _assign_arrow_udf(cents_rows: "list[tuple[int, list[float]]]", n: int):
    """Arrow-batched coarse-list assignment: top-``n`` centroids by
    cosine per vector, as one (B, d) x (d, K) matmul per batch — the
    trained-path replacement for ``_assign``'s crossJoin + window
    formulation, whose n x K interpreted folds and shuffled scored rows
    dominate wall time once K=sqrt(n) (see ``topk_ivfpq_trained``). Map-only,
    deterministic; core shared with the driver-side query prep
    (``_assign_topn_np``)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def assign(vcol):
        x = np.asarray(vcol.tolist(), dtype=np.float64)
        return pd.Series(_assign_topn_np(x, cents_rows, n))

    # Explicit returnType (no hints) for the same reason as _pq_encode_udf.
    return pandas_udf(assign, "array<int>")


def _books_array(
    rows: "list[tuple[int, int, list[float]]]", m_subspaces: int, k: int, sub: int
):
    """(m, code, cd) rows -> numpy (M, K, SUB) tensor."""
    import numpy as np

    books = np.zeros((m_subspaces, k, sub), dtype=np.float64)
    for m, code, cd in rows:
        books[m, code] = cd
    return books


def topk_pq_trained(
    spark: SparkSession, sf_dir: str, adaptive: bool = True
) -> DataFrame:
    """Product-quantization ANN under Lloyd-TRAINED subspace codebooks —
    the PRIMARY flat-PQ path (``topk_pq``'s sign-orthant books are the
    oracle-checkable twin, the ``topk_ivf``/``topk_ivf_trained``
    pattern).

    Same plan as ``topk_pq`` (broadcast ADC tables, one scan over the
    4-byte codes, two-phase top-R, broadcast exact re-rank); two things
    change, and they change the scaling law:

    - Codebooks are k-means cells (Spark ML KMeans per subspace, 256
      cells, fixed seed) fitted on a deterministically capped sample and
      PERSISTED as an index artifact (ann_index.pq_codebooks — the FAISS
      train/add split; warm sessions plan zero training jobs). Trained
      cells shrink as data fills them, so ADC distortion FALLS with n
      instead of being a constant of the coding scheme.
    - The exact re-rank shortlist is therefore near-constant
      (max(50, n/100), ``_pq_trained_shortlist``) instead of the
      sign-orthant stopgap's n/10 — the re-rank no longer reads ~10% of
      the corpus, which is what un-caps PQ's scan savings at scale
      (measured against brute force in 48705ef:SCALE_ann_r11.md; recall floor
      pinned in tests/test_similarity_pq.py).

    Encoding is an Arrow-batched matmul-argmin UDF (``_pq_encode_udf``,
    map-only); k-means training is not SQL-expressible -> rows-only
    driver check, like every trained variant.

    The warm serving path is stage-fused to the shape a request needs:
    the query side is built driver-side from the persisted books and
    query-vector artifact with bit-identical arithmetic (``_query_side``),
    and the query vectors join the shortlist inside its broadcast build —
    a warm query plans TWO jobs (shortlist build over the codes artifact,
    then one broadcast-hash re-rank pass over the corpus).

    The DEFAULT serving shape is per-query ADAPTIVE: the exact re-rank
    widens for exactly the queries whose ADC covered-gap signal says the
    floor shortlist has not separated from the decoy bulk (see the
    ``PQ_ADAPT_*`` comment), with ZERO widening on corpora that lose no
    neighbor. The bulk estimate is driver-side arithmetic over a
    persisted code histogram; ``adaptive=False`` serves the fixed floor.
    """
    from mapreduce_hadoop_spark.operators import ann_index

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    n = _emb_count(emb, sf_dir)
    nvt = emb.select(
        "vec_id", _div_by("v", "norm").alias("nv")
    )
    # Model GEOMETRY (book cell count) derives from the snapshot the
    # books were trained on — the BASE corpus when an append lineage is
    # declared (frozen models; ann_index.model_corpus_count); the
    # serving-time shortlist depth below tracks the LIVE n.
    model_n = ann_index.model_corpus_count(emb, sf_dir)
    k = min(PQ_TRAINED_K, max(16, model_n // 2))
    rows = ann_index.pq_codebooks(
        spark, nvt, sf_dir, PQ_TRAINED_M, PQ_TRAINED_SUB, k, tag="nv"
    )

    def encode_src(src: DataFrame) -> DataFrame:
        enc = _pq_encode_udf(_books_array(rows, PQ_TRAINED_M, k, PQ_TRAINED_SUB))
        return src.select(
            "vec_id", enc(F.col("v"), F.col("norm")).alias("cs")
        ).select(
            "vec_id",
            *[F.element_at("cs", m + 1).alias(f"c{m}") for m in range(PQ_TRAINED_M)],
        )

    # The FAISS ``add`` half: codes persist next to the books (encode is
    # deterministic given them), so a warm session's scan starts from a
    # pruned parquet read instead of re-encoding the corpus per query.
    # Appended corpora encode ONLY the delta against the frozen books.
    codes = ann_index.cached_relation(
        spark,
        sf_dir,
        ann_index.codes_artifact_name("nv", PQ_TRAINED_M, k),
        lambda: encode_src(emb),
        delta_build=lambda wm: encode_src(emb.filter(F.col("vec_id") >= wm)),
    )

    # Query side: driver-built local relations (zero Spark jobs warm).
    hist = (
        _codes_histogram(spark, codes, sf_dir, PQ_TRAINED_M, k, tag="nv")
        if adaptive
        else None
    )
    q, qarr = _query_side(
        spark, emb, sf_dir, rows, PQ_TRAINED_M, PQ_TRAINED_SUB, hist=hist
    )
    return _adc_rank(
        codes,
        qarr,
        emb.select("vec_id", "v"),
        q,
        _pq_trained_shortlist(n),
        m_subspaces=PQ_TRAINED_M,
        candidates_per_query=n,
        adaptive=adaptive,
    )


def _derive_append_demo(
    spark: SparkSession, sf_dir: str, tag: str
) -> "tuple[str, str]":
    """Derive (once, cached under the index root keyed by the source
    corpus' fingerprint) the append-lineage corpus pair both append
    demos serve:

    - ``base/`` — the first ~90% of vectors (vec_id < watermark), the
      snapshot a production index is trained on;
    - ``full/`` — every vector, plus ``ann_base.json`` declaring the
      base and the watermark (the caller's append declaration).

    Query vectors (vec_id < N_QUERIES) stay in the base: the serving
    artifact layer keys query vectors by corpus, and an append never
    rewrites history below the watermark. ``tag`` namespaces the two
    demos' roots (``append_demo`` / ``append_demo_fixed``) so their
    artifacts can never interfere. Shared by ``ann_append_serving`` and
    ``ann_append_serving_fixed``."""
    import json

    from mapreduce_hadoop_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    root = os.path.join(ann_index.index_root(), tag, ann_index._fingerprint(sf_dir))
    base_dir = os.path.join(root, "base")
    full_dir = os.path.join(root, "full")
    marker = os.path.join(root, "_derived")
    if not os.path.isfile(marker):
        n = ann_index.corpus_count(emb, sf_dir)
        wm = max(N_QUERIES, (n * 9) // 10)
        ann_index._write_committed(
            emb.filter(F.col("vec_id") < wm),
            os.path.join(base_dir, "embeddings.parquet"),
        )
        ann_index._write_committed(
            emb, os.path.join(full_dir, "embeddings.parquet")
        )
        with open(os.path.join(full_dir, "ann_base.json"), "w") as f:
            json.dump({"base": base_dir, "watermark": wm}, f)
        with open(marker, "w") as f:
            f.write(str(wm))
    return base_dir, full_dir


def ann_append_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat trained-PQ top-k served through a DECLARED APPEND LINEAGE,
    end to end — the driver-visible face of the incremental-add contract
    (the FAISS ``train`` once / ``add`` forever split,
    ``ann_index._base_info``).

    From the gate corpus the query derives ONCE (cached under the index
    root, keyed by the source corpus' fingerprint) an append-lineage
    pair:

    - ``base/``  — the first ~90% of vectors (vec_id < watermark), the
      snapshot a production index was trained on;
    - ``full/``  — every vector, plus ``ann_base.json`` declaring the
      base and the watermark (the caller's append declaration).

    It then indexes the base (train + add, persisted under the base's
    own fingerprint) and serves ``topk_pq_trained`` against the FULL
    corpus: the frozen base codebooks load from the base artifacts —
    never refit (pinned by the KMeans-poison test in
    tests/test_ann_index.py) — only the appended ~10% tail is encoded
    (O(delta), ``cached_relation``'s delta path), and the served codes
    relation is the base artifact unioned with the delta. At 100 TB
    this is the difference between an append costing a delta encode and
    costing a full retrain + re-encode of the corpus.

    Scale shape: both derivations are one filter/projection-free Spark
    write each (one-time); serving is the fused pq_trained plan — two
    parquet scans + two shuffles warm, zero Python. K-means training is
    not SQL-expressible -> rows-only driver check; the appended-vector
    searchability and frozen-model contracts are pinned in
    tests/test_ann_index.py and tests/test_similarity_pq.py.

    Serves at the DEFAULT (per-query adaptive) shortlist, so an
    appended-corpus user gets the same covered-gap recall recovery as
    the primary flat path (the histogram behind the bulk estimate is
    lineage-keyed, see _codes_histogram).
    """
    base_dir, full_dir = _derive_append_demo(spark, sf_dir, "append_demo")
    # Index the base snapshot (train + add persist eagerly during plan
    # construction; warm calls load artifacts and fit nothing). The base
    # result frame itself is discarded — this is the one-time deployment
    # step a production system runs at train time.
    topk_pq_trained(spark, base_dir)
    # Serve the appended corpus through the frozen-model delta path.
    return topk_pq_trained(spark, full_dir)


FIXED_BOOKS_FNAME = f"pqfix_nv_m{PQ_M}.parquet"
FIXED_CODES_FNAME = f"codes_pqfix_m{PQ_M}.parquet"


def _fixed_books_rows(src: DataFrame, vec: str = "nv") -> "list[tuple]":
    """Sign-orthant PQ codebooks of ``src``'s ``vec`` column as driver-side
    rows ``[(m, code, cd)]`` — or ``[(cent_id, m, code, cd)]``, one book
    per coarse list, when ``src`` carries a ``cent_id`` column (the IVF-PQ
    residuals, ``vec="r"``). The deterministic 'train' half of every
    sign-orthant PQ serve.

    ONE exact fixed-point aggregation over the model rows, collected
    model-sized (<= [K x] M x 2^8 rows x 16 doubles). Centroid arithmetic
    mirrors Spark's cast/divide order exactly —
    ``float(bigint_sum) / float(bigint_n) / 1e9`` is the same IEEE double
    sequence as ``cast(s as double) / n / 1e9`` — so the rows (and any
    artifact persisted from them) are bit-identical to the in-plan form
    the oracles verify, and DuckDB reproduces them verbatim."""
    keys = ["cent_id"] if "cent_id" in src.columns else []
    codes = src.select(
        *keys, vec, *[_pq_code(F.col(vec), m).alias(f"c{m}") for m in range(PQ_M)]
    )
    subs = codes.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.col(f"c{m}").alias("code"),
                        F.slice(vec, m * PQ_SUB + 1, PQ_SUB).alias("sub"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select(*keys, "s.m", "s.code", "s.sub")
    cb = subs.groupBy(*keys, "m", "code").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.expr(f"cast(floor(element_at(sub, {d}) * 1e9 + 0.5D) as bigint)")
            ).alias(f"s{d}")
            for d in range(1, PQ_SUB + 1)
        ],
    )
    out = []
    for r in cb.collect():  # model-sized
        cd = [float(r[f"s{d}"]) / float(r["n"]) / 1e9 for d in range(1, PQ_SUB + 1)]
        out.append((*[int(r[c]) for c in keys], int(r["m"]), int(r["code"]), cd))
    out.sort(key=lambda t: t[:-1])
    return out


def topk_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat sign-orthant PQ served entirely through the ARTIFACT layer —
    the deterministic serving twin that ``ann_append_serving_fixed``
    drives end to end.

    Same serving plan as ``topk_pq_trained`` (persisted books + codes,
    driver-built query side, fused broadcast re-rank: two parquet scans
    + two shuffles warm, zero Python in the hot path); same ARITHMETIC
    as ``topk_pq`` (sign-orthant codes, exact fixed-point centroid
    means, strict-fold cosines — all hash-verified against DuckDB for
    rounds). The combination is the point: every artifact this path
    loads (books, codes, base+delta union, frozen-base resolution) is a
    pure function of the corpus, so the FULL incremental-append
    machinery becomes SQL-expressible and driver-hash-verifiable, where
    the k-means twins can only rows-check.

    Append lineage (``ann_base.json``): the model corpus is the BASE
    snapshot (rows below the watermark) — resolved from the base's
    persisted artifact when it exists, recomputed from the declared
    byte-identical below-watermark rows otherwise, bit-identical either
    way — and the codes relation is the base artifact served AS IS
    unioned with an O(delta) encode of the appended tail
    (``ann_index.cached_relation``).

    Oracle-parity bound: candidates whose sign code never occurs in the
    base corpus read +inf ADC here but are inner-join-DROPPED by the
    SQL twin; both are excluded from the shortlist iff the base supplies
    >= shortlist finite candidates per query — guaranteed for the 90%
    watermark whenever n >= 57 (0.9n - 1 >= max(50, n/10)); every gate
    corpus has n >= 500.
    """
    from mapreduce_hadoop_spark.operators import ann_index

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    n = _emb_count(emb, sf_dir)
    base = ann_index._base_info(sf_dir)
    model_src = (
        emb if base is None else emb.filter(F.col("vec_id") < base["watermark"])
    )
    nvt_model = model_src.select("vec_id", _div_by("v", "norm").alias("nv"))
    rows = ann_index.fixed_model(
        sf_dir,
        FIXED_BOOKS_FNAME,
        ["m", "code", "cd"],
        lambda: _fixed_books_rows(nvt_model),
    )
    rows = [(int(m), int(c), list(cd)) for m, c, cd in rows]

    def encode_src(src: DataFrame) -> DataFrame:
        nvt = src.select("vec_id", _div_by("v", "norm").alias("nv"))
        return nvt.select(
            "vec_id",
            *[_pq_code(F.col("nv"), m).alias(f"c{m}") for m in range(PQ_M)],
        )

    codes = ann_index.cached_relation(
        spark,
        sf_dir,
        FIXED_CODES_FNAME,
        lambda: encode_src(emb),
        delta_build=lambda wm: encode_src(emb.filter(F.col("vec_id") >= wm)),
    )

    q, qarr = _query_side(spark, emb, sf_dir, rows, PQ_M, PQ_SUB)
    return _adc_rank(
        codes,
        qarr,
        emb.select("vec_id", "v"),
        q,
        _pq_shortlist(n),
        candidates_per_query=n,
    )


def ann_append_serving_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-append union semantics, HASH-VERIFIED: the exact
    base/full derivation and frozen-model serving of
    ``ann_append_serving`` — same 90% watermark, same ``ann_base.json``
    declaration, same ``_base_info``/``cached_relation`` base+delta
    union — but under the deterministic sign-orthant books of
    ``topk_pq_fixed``, so DuckDB reproduces the entire path bit-for-bit
    (the ``topk_pq`` <-> ``topk_pq_trained`` twinning pattern applied to
    the append contract). A wrong watermark cut, a
    double-counted boundary vector, or a delta encoded against refit
    books would all hash-mismatch here, where the k-means twin's
    rows-only check is blind.

    The derivation is the SHARED ``_derive_append_demo`` helper under its
    own ``append_demo_fixed`` root, so the two demos' artifacts can
    never interfere.
    """
    base_dir, full_dir = _derive_append_demo(spark, sf_dir, "append_demo_fixed")
    # One-time deployment step: index the base snapshot (books + codes
    # artifacts persist eagerly during plan construction).
    topk_pq_fixed(spark, base_dir)
    # Serve the appended corpus through the frozen-model delta path.
    return topk_pq_fixed(spark, full_dir)


ANN_APPEND_FIXED_ORACLE = _topk_pq_oracle(base_only=True)


# --- IVF-PQ composition ------------------------------------------------------


def _ivfpq_codes(
    spark: SparkSession,
    sf_dir: str,
    lists: DataFrame,
    probed: "list[int]",
    name: str,
    codes_of: "Callable[[DataFrame], DataFrame]",
) -> DataFrame:
    """The IVF-PQ ``add`` half of both IVF-PQ builders: the codes of
    ``lists`` (the assigned corpus: vec_id, v, norm, cent_id), encoded by
    ``codes_of`` and persisted as one vec_id-sorted flat artifact through
    ``ann_index.cached_relation`` (an O(delta) encode under an append
    lineage), filtered to the ``probed`` lists. The probe union reaches
    the scan as a pushed row-group filter; the ``cent_id`` broadcast join
    in ``_adc_rank`` then pairs each code with its own query residual.

    The sort restores sequential vec_id runs: the assigned corpus arrives
    clustered by list, and writing it as is scatters vec_id across files
    (measured 2.2x the bytes of a vec_id-ordered encode at sf1)."""
    from mapreduce_hadoop_spark.operators import ann_index

    return ann_index.cached_relation(
        spark,
        sf_dir,
        name,
        lambda: codes_of(lists).sort("vec_id"),
        delta_build=lambda wm: codes_of(lists.filter(F.col("vec_id") >= wm)).sort(
            "vec_id"
        ),
    ).filter(F.col("cent_id").isin(probed))


def _topk_ivfpq_oracle() -> str:
    return f"""
WITH e AS ({EMB_NORM_SQL}),
{IVF_CENTS_SQL},
nc AS (SELECT cent_id, [cv[i]/cn for i in range(1, {EMB_DIM + 1})] AS ncv FROM c),
{ASSIGNED_SQL},
base AS (SELECT a.vec_id, a.cent_id,
           [a.v[i]/a.norm - nc.ncv[i] for i in range(1, {EMB_DIM + 1})] AS r
         FROM assigned a JOIN nc ON nc.cent_id = a.cent_id),
{_pq_books_sql("r", "base", key="cent_id")},
nvt AS (SELECT vec_id, [v[i]/norm for i in range(1, {EMB_DIM + 1})] AS nv FROM e),
q AS (SELECT vec_id AS query_id, nv AS qnv FROM nvt WHERE vec_id < {N_QUERIES}),
qres AS (
    SELECT p.query_id, p.cent_id,
           [p.qv[i]/p.qn - nc.ncv[i] for i in range(1, {EMB_DIM + 1})] AS qr
    FROM (
        {_nearest_sql(PROBES_COLS_SQL, IVF_NPROBE, f" WHERE e.vec_id < {N_QUERIES}")}
    ) p JOIN nc ON nc.cent_id = p.cent_id
),
adc AS MATERIALIZED (SELECT p.query_id, p.cent_id, c.m, c.code,
          CAST(0 AS DOUBLE) + {_pq_adc_terms_sql("p.qr")} AS t
        FROM qres p JOIN cent c ON c.cent_id = p.cent_id),
b AS MATERIALIZED (SELECT vec_id, cent_id, c0, c1, c2, c3 FROM codes),
{_pq_rank_sql("b", "b", key="cent_id")}"""


TOPK_IVFPQ_ORACLE = _topk_ivfpq_oracle()


FIXED_IVFPQ_BOOKS_FNAME = f"ivfpqfix_res_m{PQ_M}_K{IVF_K}.parquet"
FIXED_IVFPQ_CENTS_FNAME = f"ivfpqfix_cents_K{IVF_K}.parquet"
FIXED_IVFPQ_FLAT_CODES_FNAME = f"codes_ivfpqfix_m{PQ_M}_K{IVF_K}.parquet"


def topk_ivfpq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ under deterministic books: the hash-verifiable
    twin of ``topk_ivfpq_trained``'s serving plan.

    Arithmetic: fixed K=16 coarse centroids (corpus rows [100,116)), each
    vector coded on its residual r = nv - nc_list against its list's own
    sign-orthant residual book (``_fixed_books_rows`` keyed by cent_id;
    exact fixed-point means), nprobe=8, max(50, n/10) shortlist. Per-list
    books because one global sign-orthant book mixes the lists'
    differently-scaled residual clouds and its cell means wash out
    (global-residual recall@5 0.56 vs per-list 0.74 at sf0.01); they grow
    as K x M x 2^bits x 16 doubles, which is why the trained path uses
    one global Lloyd-trained book instead.

    Serving plan: the trained path's — the persisted flat codes artifact
    filtered to the probe union (``_ivfpq_codes``), the driver-built
    per-(query, probed list) query side, and the exact re-rank over the
    corpus. Every artifact and driver-side decision is a pure function of
    the corpus, so the whole serving path lands under the value hash of
    ``TOPK_IVFPQ_ORACLE``.

    Append lineages are NOT modeled here (books derive from the live
    corpus): the append contract's hash coverage lives in
    ``ann_append_serving_fixed``; one contract per twin."""
    import math

    from mapreduce_hadoop_spark.operators import ann_index

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    n = _emb_count(emb, sf_dir)
    cents = _ivf_centroids(emb)
    ncents = cents.select("cent_id", _div_by("cv", "cn").alias("ncv"))
    lists = _assign(emb, cents, 1)

    def residuals(src: DataFrame) -> DataFrame:
        return src.join(F.broadcast(ncents), "cent_id").select(
            "vec_id",
            "cent_id",
            F.zip_with(_div_by("v", "norm"), F.col("ncv"), lambda a, b: a - b).alias("r"),
        )

    rows = ann_index.fixed_model(
        sf_dir,
        FIXED_IVFPQ_BOOKS_FNAME,
        ["cent_id", "m", "code", "cd"],
        lambda: _fixed_books_rows(residuals(lists), "r"),
        frozen_base=False,
    )
    rows = [(int(c), int(m), int(code), list(cd)) for c, m, code, cd in rows]

    # Probe selection, driver-side with STRICT sequential arithmetic
    # (_strict_dot), so the probes match `_assign(..., nprobe)`'s
    # (ccos DESC, cent_id) ranking bit-for-bit and DuckDB reproduces
    # every value.
    crows = ann_index.fixed_model(
        sf_dir,
        FIXED_IVFPQ_CENTS_FNAME,
        ["cent_id", "cv"],
        lambda: sorted(
            (int(r["cent_id"]), [float(x) for x in r["cv"]])
            for r in cents.select("cent_id", "cv").collect()  # K=16 rows
        ),
        frozen_base=False,
    )
    crows = [(int(cid), list(cv)) for cid, cv in crows]
    cn = {cid: math.sqrt(_strict_dot(cv, cv)) for cid, cv in crows}
    probe_lists = []
    for _qid, v in ann_index.query_vectors(emb, sf_dir, N_QUERIES):
        qn = math.sqrt(_strict_dot(v, v))
        scored = sorted(
            (-(_strict_dot(v, cv) / (qn * cn[cid])), cid) for cid, cv in crows
        )
        probe_lists.append([cid for _neg, cid in scored[:IVF_NPROBE]])
    q, qarr = _query_side(
        spark, emb, sf_dir, rows, PQ_M, PQ_SUB, probe_lists, crows
    )

    probed = sorted({int(c) for pl in probe_lists for c in pl})
    codes = _ivfpq_codes(
        spark,
        sf_dir,
        lists,
        probed,
        FIXED_IVFPQ_FLAT_CODES_FNAME,
        lambda src: residuals(src).select(
            "vec_id",
            *[_pq_code(F.col("r"), m).alias(f"c{m}") for m in range(PQ_M)],
            F.col("cent_id").cast("int").alias("cent_id"),
        ),
    )
    return _adc_rank(
        codes,
        qarr,
        emb.select("vec_id", "v"),
        q,
        _pq_shortlist(n),
        candidates_per_query=n,
    )


def topk_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ under the TRAINED coarse quantizer at K = sqrt(n)
    lists — the deployed serving form. The list count grows with the
    corpus, so the candidate fraction per query (nprobe/K ~
    nprobe/sqrt(n)) SHRINKS as data grows — the FAISS nlist recipe, vs
    the fixed K=16 whose fraction is constant. Measured recall@5 at the
    fixed floor (nprobe = max(8, K//3), scale-adaptive shortlist): 0.76 /
    0.74 / 0.84 at sf0.001 / sf0.01 / sf0.1, vs the fixed-K twin's 0.78 /
    0.72 / 0.72 — at sf0.1 +0.12 recall while scanning 36% of the corpus
    instead of 51% (K=44 vs 16).

    The residual codebook is ONE GLOBAL Lloyd-trained book
    (ann_index.pq_codebooks over the residual column), the FAISS IVFPQ
    layout proper: trained cells place themselves where the pooled
    residual mass is, so the global book does not wash out the way a
    global sign-orthant book does, and it is M x 2^bits x 16 doubles
    FLAT IN K. Its distortion falls as data fills the cells, so the exact
    re-rank shortlist stays near-constant (``_pq_trained_ivf_shortlist``).
    Books, centroids and codes persist as index artifacts (the FAISS
    train/add split — a warm session plans zero training jobs); the codes
    serve from one flat artifact filtered to the probe union
    (``_ivfpq_codes``) and the exact re-rank reads the corpus. ADC tables
    stay per-(query, probed list) because the query residual differs per
    list.

    Corpus-side list assignment is an Arrow-batched matmul-argmax UDF
    (``_assign_arrow_udf``): at K=sqrt(n) the crossJoin + window form
    evaluates n x K interpreted folds and shuffles n x K scored rows.

    K-means training is not SQL-expressible -> rows-only driver check;
    recall is bounded against brute force in tests/test_similarity_pq.py,
    and ``topk_ivfpq_fixed`` is the hash-verified twin of the serving
    plan.
    """
    import math

    import numpy as np

    from mapreduce_hadoop_spark.operators import ann_index

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    n = _emb_count(emb, sf_dir)
    # Model geometry (list count, book cells) is fixed at TRAIN time — the
    # FAISS nlist contract: under an append lineage the frozen base models
    # keep serving, so it derives from the snapshot they were trained on.
    model_n = ann_index.model_corpus_count(emb, sf_dir)
    k = max(IVF_K, math.isqrt(model_n))
    nprobe = max(IVF_NPROBE, k // 3)
    cents_rows = ann_index.coarse_centroids(spark, emb, sf_dir, k)
    cents = _cents_relation(spark, cents_rows)
    coarse_k = len(cents_rows)

    # Both serving dials ADAPT to the query/quantizer geometry instead of
    # sitting on constants that were right only for organic data. Probe
    # width: the SPANN closeness rule, query side (_probe_lists_adaptive —
    # boundary queries widen their own probe set). Shortlist: scaled by
    # the SQUARE of the measured width/floor ratio, the free clusteredness
    # signal (see the IVFPQ_PROBE_EPS block). Driver-side arithmetic over
    # artifact-backed, request-sized relations — a warm query plans zero
    # query-side Spark jobs.
    qv_rows = ann_index.query_vectors(emb, sf_dir, N_QUERIES)
    xq = np.asarray([v for _, v in qv_rows], dtype=np.float64)
    probe_lists = _probe_lists_adaptive(xq, cents_rows, nprobe, IVFPQ_PROBE_EPS, k)
    widths = [len(p) for p in probe_lists]
    ratio = (sum(widths) / len(widths)) / min(nprobe, k)
    base_shortlist = _pq_trained_ivf_shortlist(n)
    shortlist = min(
        int(base_shortlist * ratio * ratio),
        max(base_shortlist, n // PQ_SHORTLIST_DIV),
    )

    # Residual per vector: r = nv - nc_list, in the same projection as the
    # list assignment (no corpus-side join beyond the broadcast centroids).
    ncents = cents.select("cent_id", _div_by("cv", "cn").alias("ncv"))
    assign1 = _assign_arrow_udf(cents_rows, 1)
    lists = emb.select(
        "vec_id",
        "v",
        "norm",
        F.element_at(assign1(F.col("v")), 1).alias("cent_id"),
    )
    base = lists.join(F.broadcast(ncents), "cent_id").select(
        "vec_id",
        "cent_id",
        F.zip_with(_div_by("v", "norm"), F.col("ncv"), lambda a, b: a - b).alias(
            "r"
        ),
    )
    book_k = min(PQ_TRAINED_K, max(16, model_n // 2))
    rows = ann_index.pq_codebooks(
        spark, base.select("vec_id", F.col("r").alias("res")),
        sf_dir, PQ_TRAINED_M, PQ_TRAINED_SUB, book_k, tag="res",
        coarse_k=coarse_k,
    )

    def codes_src(src: DataFrame) -> DataFrame:
        enc = _pq_encode_udf(
            _books_array(rows, PQ_TRAINED_M, book_k, PQ_TRAINED_SUB),
            residual=True,
        )
        plain = src.join(F.broadcast(ncents), "cent_id")
        return plain.select(
            "vec_id",
            enc(F.col("v"), F.col("norm"), F.col("ncv")).alias("cs"),
            "cent_id",
        ).select(
            "vec_id",
            *[F.element_at("cs", m + 1).alias(f"c{m}") for m in range(PQ_TRAINED_M)],
            "cent_id",
        )

    # The codes name keys the residual book, the coarse quantizer and the
    # training recipe.
    probed = sorted({int(c) for pl in probe_lists for c in pl})
    codes = _ivfpq_codes(
        spark,
        sf_dir,
        lists,
        probed,
        ann_index.codes_artifact_name("res", PQ_TRAINED_M, book_k, coarse_k=coarse_k),
        codes_src,
    )
    q, qarr = _query_side(
        spark, emb, sf_dir, rows, PQ_TRAINED_M, PQ_TRAINED_SUB, probe_lists, cents_rows
    )
    return _adc_rank(
        codes,
        qarr,
        emb.select("vec_id", "v"),
        q,
        shortlist,
        m_subspaces=PQ_TRAINED_M,
        candidates_per_query=n,
    )
