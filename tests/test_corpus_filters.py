"""Unit fixtures for the staged corpus-hygiene operators: cross-document
span dedup (C4-style) and the Gopher rule gate — plus the subtle edge
cases of this round's in-row pair-dedup rewrites (first-surviving-band
with a capped band; multi-block simhash collision emitted once).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions import text as T
from mapreduce_hadoop_spark.functions.hashing import md5_long
from mapreduce_hadoop_spark.operators import dedup, similarity, textops


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: bigint, text: string")


# --- span dedup -------------------------------------------------------------


def test_span_dedup_marks_later_occurrences_only(spark):
    span = " ".join(f"w{i}" for i in range(dedup.SPAN_TOKENS))  # one full span
    other = " ".join(f"x{i}" for i in range(dedup.SPAN_TOKENS))
    rows = [
        (1, span + " " + other),  # spans: [span, other] — both first
        (2, span),  # duplicate of doc 1's first span
        (3, other + " tail words"),  # dup span + unique partial tail span
    ]
    out = {
        r["doc_id"]: r
        for r in dedup.span_dedup_stats_from(_docs(spark, rows)).collect()
    }
    assert out[1]["n_spans"] == 2 and out[1]["n_dup_spans"] == 0
    assert out[2]["n_spans"] == 1 and out[2]["n_dup_spans"] == 1
    assert out[2]["dup_frac"] == 1.0
    assert out[3]["n_spans"] == 2 and out[3]["n_dup_spans"] == 1
    assert out[3]["dup_frac"] == 0.5


def test_span_dedup_first_occurrence_is_doc_then_span_order(spark):
    span = " ".join(f"w{i}" for i in range(dedup.SPAN_TOKENS))
    # The same span twice WITHIN doc 5: span_id 1 is the corpus first,
    # span_id 2 is already a duplicate.
    rows = [(5, span + " " + span)]
    (r,) = dedup.span_dedup_stats_from(_docs(spark, rows)).collect()
    assert r["n_spans"] == 2 and r["n_dup_spans"] == 1


def test_span_dedup_short_doc_single_partial_span(spark):
    rows = [(1, "just three words"), (2, "just three words")]
    out = {
        r["doc_id"]: r
        for r in dedup.span_dedup_stats_from(_docs(spark, rows)).collect()
    }
    assert out[1]["n_spans"] == 1 and out[1]["n_dup_spans"] == 0
    assert out[2]["n_spans"] == 1 and out[2]["n_dup_spans"] == 1


# --- gopher rules -----------------------------------------------------------


def _gopher_row(spark, text):
    (r,) = textops.gopher_rules_from(_docs(spark, [(1, text)])).collect()
    return r


def test_gopher_word_count_boundary(spark):
    base = ["the", "of"] + [f"word{i}" for i in range(47)]  # 49 words
    r = _gopher_row(spark, " ".join(base))
    assert r["n_words"] == 49 and not r["r_word_count"]
    r = _gopher_row(spark, " ".join(base + ["more"]))
    assert r["n_words"] == 50 and r["r_word_count"]


def test_gopher_stopword_hits_are_distinct_not_occurrences(spark):
    # 'the' repeated 30 times is still ONE distinct stopword hit.
    filler = [f"word{i}" for i in range(60)]
    r = _gopher_row(spark, " ".join(["the"] * 30 + filler))
    assert r["stop_hits"] == 1 and not r["r_stopwords"]
    r = _gopher_row(spark, " ".join(["the", "of"] + ["the"] * 28 + filler))
    assert r["stop_hits"] == 2 and r["r_stopwords"]


def test_gopher_alpha_and_repetition_rules(spark):
    # 60 words, 30 of them numeric -> alpha_frac 0.5 < 0.8.
    words = [f"word{i}" for i in range(30)] + [str(i) for i in range(30)]
    r = _gopher_row(spark, " ".join(["the", "of"] + words))
    assert not r["r_alpha"] and not r["keep"]
    # One 3-gram looped 60 times: dup3_frac -> ~1 > 0.5.
    r = _gopher_row(spark, " ".join(["the", "of", "again"] * 60))
    assert r["dup3_frac"] > textops.GOPHER_MAX_DUP3_FRAC
    assert not r["r_repetition"] and not r["keep"]


def test_gopher_keep_requires_all_rules(spark):
    text = " ".join(
        ["the", "of"] + [f"alpha{i}" for i in range(55)]
    )
    r = _gopher_row(spark, text)
    assert all(
        r[c]
        for c in ["r_word_count", "r_mean_word_len", "r_alpha", "r_stopwords", "r_repetition"]
    )
    assert r["keep"]


# --- in-row pair-dedup rewrites: edge cases ---------------------------------


def _normed(df):
    return df.select(
        "vec_id",
        "v",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x), F.lit(0.0), lambda s, x: s + x
            )
        ).alias("norm"),
    )


def axis_signs(bands: int, bits: int, dim: int) -> list[list[list[float]]]:
    """Axis-aligned hyperplanes (bit i of band j = sign of dim j*bits+i),
    which place vectors in chosen buckets by construction."""
    return [
        [
            [1.0 if d == (j * bits + i) % dim else 0.0 for d in range(dim)]
            for i in range(bits)
        ]
        for j in range(bands)
    ]


def test_emb_lsh_pair_survives_when_first_matching_band_is_capped(spark):
    """A pair whose FIRST matching band is dropped by the bucket cap must
    still be emitted through a later surviving band (the NULL-mask
    semantics of the in-row first-match dedup).
    """
    n = 600  # cap = max(200, n/2) = 300
    # Band 0 (dims 1-4): positive for ALL vectors -> one bucket of 600 > cap.
    # Band 1 (dims 5-8): sign pattern = vec_id % 16 -> healthy buckets
    # (~38 each); vectors 0 and 16 share band-1 bucket 0 AND have high
    # cosine; other colliding pairs exist too — we assert on (0, 16).
    def vec(i):
        signs = [1.0] * 4  # band 0: all same
        for b in range(1, similarity.NEAR_DUP_BANDS):
            pat = (i + (0 if b == 1 else b * 7)) % 16
            signs += [(1.0 if (pat >> k) & 1 else -1.0) for k in range(4)]
        return [s * (1.0 + 0.001 * i) for s in signs]

    emb = _normed(
        spark.createDataFrame(
            [(i, vec(i)) for i in range(n)], "vec_id: bigint, v: array<double>"
        )
    )
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.near_dup_lsh_from(
            emb, signs=axis_signs(similarity.NEAR_DUP_BANDS, 4, dim=32)
        ).collect()
    }
    assert (0, 16) in pairs
    # And the capped band genuinely generated no candidates on its own:
    # vectors colliding ONLY in band 0 (e.g. 0 and 1: band-1 patterns 0 vs
    # 1, and offsets keep them apart in bands 2+) must be absent.
    assert (0, 1) not in pairs


def test_simhash_multi_block_collision_emitted_once(spark):
    # Identical texts -> identical simhashes -> all 4 blocks collide; the
    # first-match filter must emit exactly one row for the pair.
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta")]
    hs = _docs(spark, rows).select(
        "doc_id", F.transform(T.shingles("text"), lambda s: md5_long(s)).alias("hs")
    )
    sigs = dedup._simhash_from_hs(hs)
    out = dedup.simhash_pairs_from(sigs).collect()
    dedup.unpersist_intermediates()
    assert len(out) == 1
    assert (out[0]["doc_a"], out[0]["doc_b"], out[0]["hamming"]) == (1, 2, 0)


# --- int8 quantization ------------------------------------------------------


def test_quantize_int8_saturation_zero_vector_and_roundtrip(spark, sf_dir):
    from mapreduce_hadoop_spark.operators.similarity import (
        QUANT_LEVELS,
        embedding_quantize_int8,
    )

    rows = embedding_quantize_int8(spark, sf_dir).collect()
    assert rows
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r["vec_id"], []).append(r)
    for vid, rs in by_vec.items():
        codes = [r["code"] for r in rs]
        scale = rs[0]["scale"]
        # symmetric code range, and the max-|x| dim must hit the rail
        assert all(-QUANT_LEVELS <= c <= QUANT_LEVELS for c in codes), vid
        if scale > 0:
            assert max(abs(c) for c in codes) == QUANT_LEVELS, vid

    # synthetic edge: an all-zero vector quantizes to scale 0 / codes 0
    from pyspark.sql import functions as F

    zero = spark.createDataFrame(
        [(1, [0.0] * 64)], "vec_id: bigint, embedding: array<float>"
    )
    import mapreduce_hadoop_spark.operators.similarity as S
    import mapreduce_hadoop_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf_dir, name: zero  # type: ignore
        S.load_table = tables.load_table
        out = S.embedding_quantize_int8(spark, "unused").collect()
    finally:
        tables.load_table = orig
        S.load_table = orig
    assert len(out) == 64
    assert all(r["code"] == 0 and r["scale"] == 0.0 for r in out)


# --- funnel semantics + span-dedup property test ----------------------------


def test_funnel_orders_stages_strictly(spark):
    import datetime as dt

    from mapreduce_hadoop_spark.operators import temporal

    def ev(uid, typ, sec):
        return (uid, typ, dt.datetime(2024, 1, 1, 0, 0, sec))

    rows = [
        # u1 converts fully in order
        ev(1, "view", 1), ev(1, "click", 2), ev(1, "purchase", 3),
        # u2: purchase BEFORE view -> reaches only stage 1
        ev(2, "purchase", 1), ev(2, "view", 2),
        # u3: click at the same ts as view (not strictly after) -> stage 1
        ev(3, "view", 5), ev(3, "click", 5),
        # u4: no view at all -> no stage
        ev(4, "click", 1), ev(4, "purchase", 2),
    ]
    df = spark.createDataFrame(rows, "user_id: bigint, event_type: string, ts: timestamp")
    import mapreduce_hadoop_spark.operators.temporal as T
    import mapreduce_hadoop_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf_dir, name: df  # type: ignore
        T.load_table = tables.load_table
        out = {r["stage"]: r for r in T.events_funnel(spark, "unused").collect()}
    finally:
        tables.load_table = orig
        T.load_table = orig
    assert out["view"]["n_users"] == 3  # u1, u2, u3
    assert out["click"]["n_users"] == 1  # only u1 (u3's click not strictly after)
    assert out["purchase"]["n_users"] == 1  # only u1
    assert out["view"]["conv_from_prev"] == 0.75  # 3 of 4 users
    assert out["purchase"]["conv_from_prev"] == 1.0


def test_span_dedup_matches_python_reference(spark):
    # Property-style cross-check against a direct Python implementation on
    # a deterministic pseudo-random corpus with a tiny vocabulary (forces
    # real cross-document span collisions).
    import random

    from mapreduce_hadoop_spark.operators.dedup import SPAN_TOKENS, span_dedup_stats_from

    rng = random.Random(7)
    vocab = ["a", "b", "c"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 3 * SPAN_TOKENS))))
        for i in range(40)
    ]
    seen: set[str] = set()
    expected = {}
    for doc_id, text in rows:  # doc_id ascending = corpus order
        toks = text.split(" ")
        spans = [
            " ".join(toks[s : s + SPAN_TOKENS])
            for s in range(0, len(toks), SPAN_TOKENS)
        ]
        dups = 0
        for sp in spans:
            if sp in seen:
                dups += 1
            else:
                seen.add(sp)
        expected[doc_id] = (len(spans), dups)
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in span_dedup_stats_from(_docs(spark, rows)).collect()
    }
    assert got == expected


def test_ngram_jaccard_matches_python_reference(spark):
    # Direct Python replication of the full pipeline (distinct 3-token
    # shingles, 60-bit md5 identity, DF cap, Jaccard >= 0.5) on a
    # pseudo-random tiny-vocab corpus that produces real shared shingles.
    import hashlib
    import itertools
    import random

    from mapreduce_hadoop_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        NGRAM_DF_CAP,
        ngram_jaccard_pairs,
    )

    rng = random.Random(11)
    vocab = ["x", "y"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8))))
        for i in range(30)
    ]

    def shingle_hashes(text):
        toks = text.split(" ")
        sh = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()
        return {int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh}

    hs = {d: shingle_hashes(t) for d, t in rows}

    def reference_pairs(cap):
        # Faithful replication: the DF cap filters shingles BEFORE pair
        # generation, so `common` counts only surviving shared shingles
        # (exactly what the bucket co-count produces), while the
        # denominators use each doc's FULL shingle count.
        df_count: dict[int, int] = {}
        for s in itertools.chain.from_iterable(hs.values()):
            df_count[s] = df_count.get(s, 0) + 1
        ok = {s for s, c in df_count.items() if c <= cap}
        out = {}
        for (a, sa), (b, sb) in itertools.combinations(sorted(hs.items()), 2):
            common = len(sa & sb & ok)
            if common == 0:
                continue
            j = round(common / (len(sa) + len(sb) - common), 6)
            if j >= JACCARD_THRESHOLD:
                out[(a, b)] = j
        return out

    import mapreduce_hadoop_spark.operators.dedup as D
    import mapreduce_hadoop_spark.sources.tables as tables

    df = _docs(spark, rows)
    orig = tables.load_table
    orig_cap = D.NGRAM_DF_CAP
    try:
        tables.load_table = lambda spark, sf_dir, name: df  # type: ignore
        D.load_table = tables.load_table
        for cap in (NGRAM_DF_CAP, 5):  # default (never trips) and tripping
            D.NGRAM_DF_CAP = cap
            got = {
                (r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(spark, "unused").collect()
            }
            expected = reference_pairs(cap)
            assert got == expected, (cap, len(got), len(expected))
        assert reference_pairs(5) != reference_pairs(NGRAM_DF_CAP)  # cap bit
    finally:
        tables.load_table = orig
        D.load_table = orig
        D.NGRAM_DF_CAP = orig_cap


def test_cohort_retention_semantics(spark):
    import datetime as dt

    from mapreduce_hadoop_spark.operators import temporal

    W = temporal.WEEK_S
    base = dt.datetime(2024, 1, 4)  # mid-week; week index constant nearby

    def ev(uid, typ, weeks):
        return (uid, typ, base + dt.timedelta(seconds=int(weeks * W)))

    rows = [
        # u1 signs up week 0, active weeks 0, 1 and 3 (two events in week 1
        # must count once)
        ev(1, "signup", 0), ev(1, "click", 1.1), ev(1, "view", 1.2), ev(1, "click", 3.0),
        # u2: pre-signup activity (offset < 0) is excluded; two signups ->
        # cohort = first
        ev(2, "click", -1.5), ev(2, "signup", 0.1), ev(2, "signup", 2.0),
        # u3: never signs up -> not in any cohort
        ev(3, "click", 0.2),
    ]
    df = spark.createDataFrame(rows, "user_id: bigint, event_type: string, ts: timestamp")
    import mapreduce_hadoop_spark.operators.temporal as T
    import mapreduce_hadoop_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf_dir, name: df  # type: ignore
        T.load_table = tables.load_table
        out = {
            (r["cohort_week"] - rows[0][2].timestamp() // W, r["week_offset"]): r["n_users"]
            for r in T.events_cohort_retention(spark, "unused").collect()
        }
    finally:
        tables.load_table = orig
        T.load_table = orig
    # u1 and u2 share cohort week 0 (both first-signups fall in it)
    assert out[(0, 0)] == 2
    assert out[(0, 1)] == 1  # u1 only, week-1 double activity counted once
    assert out[(0, 2)] == 1  # u2's second signup is week-2 activity
    assert out[(0, 3)] == 1  # u1
    assert (0, -2) not in out and all(k[1] >= 0 for k in out)
