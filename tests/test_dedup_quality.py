"""Cross-family dedup quality: the approximate methods vs exact Jaccard."""

from __future__ import annotations

from mapreduce_hadoop_spark.operators import dedup


def lsh_dropped_buckets(hs):
    """(band, sig, bucket_n) for every band bucket ``LSH_BUCKET_CAP`` drops."""
    from pyspark.sql import functions as F

    return (
        dedup._band_keys(dedup._minhash_from(hs))
        .groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > F.lit(dedup.LSH_BUCKET_CAP))
    )


def _simhash_from_hs_jvm(hs_rel):
    """The JVM array-accumulator simhash fold: the parity reference for
    the Arrow fold ``dedup._simhash_from_hs``."""
    from pyspark.sql import functions as F

    hs = hs_rel.filter(F.size("hs") > 0)
    n = F.size("hs")
    bits = dedup.SIMHASH_BITS
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    counts = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, x: F.zip_with(
            acc,
            masks,
            lambda c, m: c
            + F.when(x.bitwiseAND(m) != F.lit(0), F.lit(1)).otherwise(F.lit(0)),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return hs.select("doc_id", sim.alias("simhash"))


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    # With 8 bands x 2 rows, P(candidate | j=0.5) = 1-(1-0.25)^8 ~ 0.90 at
    # the threshold boundary (0.97 at j=0.6, ~1 at j>=0.8); the verify step
    # makes precision exact. Require full agreement on the test corpus —
    # measured identical to the former 32-perm/16-band config at sf0.01
    # through sf1 (250,600 pairs, recall 1.0); this assert re-arms the
    # recall floor on any corpus where the leaner banding loses a pair.
    exact = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(spark, sf_dir).collect()}
    assert len(exact) > 0
    assert lsh == exact, (len(exact), len(lsh), len(lsh & exact))


def test_minhash_lsh_boundary_recall_is_measured(spark):
    """ADVICE-r6: the gate corpus has no pairs near the Jaccard 0.5
    threshold, so the 8-band config's designed ~10% boundary recall loss
    was documented but unobservable in CI. This fixture engineers 40 pairs
    with true Jaccard in [0.50, 0.63] — where the S-curve actually bends —
    and MEASURES the recall.

    Construction: pair i gets a disjoint hash universe (base = (i+1)*1e5);
    both docs hold m=60 shingle hashes with overlap c chosen for a target
    Jaccard c/(2m-c). Everything is deterministic (fixed minhash params),
    so the measured recall is pinned exactly: 37/40 = 0.925, inside the
    per-pair theory band P(candidate) = 1-(1-j^2)^8 ~ [0.90, 0.97] over
    the fixture's j range. Any banding/permutation change re-measures here
    (and an unnoticed recall collapse fails loudly).
    """
    from pyspark.sql import functions as F

    m, n_pairs = 60, 40
    rows = []
    truth = []
    for i in range(n_pairs):
        base = (i + 1) * 100_000
        j_t = 0.50 + 0.12 * (i % 10) / 9
        c = round(2 * m * j_t / (1 + j_t))
        a = list(range(base + 1, base + m + 1))
        b = list(range(base + 1, base + c + 1)) + list(
            range(base + m + 1, base + 2 * m - c + 1)
        )
        j_true = c / (2 * m - c)
        assert 0.5 <= j_true <= 0.63, (i, j_true)  # genuinely boundary
        rows.append((2 * i, a))
        rows.append((2 * i + 1, b))
        truth.append((2 * i, 2 * i + 1))
    hs = spark.createDataFrame(rows, "doc_id long, hs array<long>")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs_from(hs).collect()
    }
    dedup.unpersist_intermediates()
    assert got <= set(truth)  # disjoint universes -> no false candidates
    recall = len(got) / n_pairs
    # Deterministic measurement; re-pin alongside any banding change.
    assert recall == 37 / 40, (len(got), n_pairs)


def test_simhash_covers_true_pairs(spark, sf_dir):
    # SimHash at hamming<=6 is a looser similarity (term-vector cosine-ish):
    # it must cover most true j>=0.5 pairs; extra pairs are by design.
    exact = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()}
    sim = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_pairs(spark, sf_dir).collect()}
    assert len(exact) > 0
    assert len(sim & exact) / len(exact) >= 0.8


def test_lsh_bucket_cap_bounds_boilerplate_blowup(spark, monkeypatch):
    # 300 identical docs collapse onto one band signature per band; without
    # the cap the candidate self-join is 300*299/2 pairs. With the cap the
    # hot buckets are dropped entirely and the stat reports them.
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.functions import text as T
    from mapreduce_hadoop_spark.functions.hashing import MINHASH_PRIME as P, md5_long

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate paragraph repeated in every document").alias("text"),
    )
    hs = docs.select(
        "doc_id",
        F.transform(T.shingles("text"), lambda s: md5_long(s) % F.lit(P)).alias("hs"),
    )
    assert dedup.minhash_lsh_pairs_from(hs).count() == 0
    dropped = lsh_dropped_buckets(hs).collect()
    assert len(dropped) == dedup.BANDS
    assert all(r["bucket_n"] == 300 for r in dropped)
    # An uncapped run on the same input explodes into the quadratic pairs.
    monkeypatch.setattr(dedup, "LSH_BUCKET_CAP", 10**9)
    uncapped = dedup.minhash_lsh_pairs_from(hs)
    assert uncapped.count() == 300 * 299 // 2


def test_emb_lsh_bucket_cap_drops_degenerate_sign_bucket(spark):
    # A boilerplate corpus (identical vectors) collapses onto ONE bucket in
    # every band regardless of the hash family -> bucket_n = n > n/2 ->
    # dropped, zero candidates. A healthy corpus is unaffected (SRP buckets
    # hold ~n/2^bits << n/2).
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.operators import similarity

    n = 500
    degenerate = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: i.cast("double") / 100.0 + 0.01,
        ).alias("v"),
    )
    degenerate = degenerate.select(
        "vec_id", "v", F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x), F.lit(0.0), lambda s, x: s + x
            )
        ).alias("norm"),
    )
    assert similarity.near_dup_lsh_from(degenerate).count() == 0


def test_contamination_excludes_benchmark_and_bounds_ratio(spark, sf_dir):
    from mapreduce_hadoop_spark.operators import dedup

    rows = dedup.contamination_check(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # Benchmark docs never appear as contaminated corpus docs.
        assert r["doc_id"] % dedup.CONTAM_BENCH_MOD != 0
        assert 0 < r["n_hits"] <= r["n_sh"]
        assert 0.0 < r["contam_ratio"] <= 1.0


def test_dedup_clusters_labels_are_component_minima(spark, sf_dir):
    from mapreduce_hadoop_spark.operators import dedup

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(spark, sf_dir).collect()
    }
    # Independent union-find over the same pair graph.
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(spark, sf_dir).collect()
    }
    assert got == want


def test_pack_sequences_invariants(spark, sf_dir):
    from mapreduce_hadoop_spark.operators import textops

    rows = textops.pack_sequences(spark, sf_dir).collect()
    assert rows
    by_source: dict = {}
    for r in rows:
        assert 0 <= r["pack_offset"] < textops.PACK_BUDGET
        by_source.setdefault(r["source"], []).append(r)
    for src, docs in by_source.items():
        docs.sort(key=lambda r: r["doc_id"])
        start = 0
        for r in docs:
            # Each doc begins exactly where the previous one ended.
            assert r["pack_id"] == start // textops.PACK_BUDGET, (src, r)
            assert r["pack_offset"] == start % textops.PACK_BUDGET, (src, r)
            start += r["ws_tokens"]


def test_connected_components_deep_chain_converges_log_rounds(spark):
    """A 200-node chain (diameter 199) would need 199 rounds of pure
    min-label propagation; the pointer-jumping variant must label it
    within the default 20-round budget (log2(199) ~ 8) — the ADVICE-r3
    deep-chain failure mode, pinned."""
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.operators.dedup import connected_components

    n = 200
    # Directed pair list (each edge once) — the helper symmetrizes
    # internally, so nodes appearing only as `b` still get labeled.
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    labels = connected_components(edges, max_iter=20)
    got = {r["doc"]: r["lbl"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_exhaustion_raises(spark):
    """Non-fixpoint labels must never be silently emitted."""
    import pytest
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.operators.dedup import connected_components

    n = 64
    edges = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iter=2)


def test_pii_scrub_redacts(spark):
    """The driver corpus has no PII, so the scrub's actual behavior is
    pinned here on synthetic strings: emails and phones redact (emails
    first — a digit run inside an email must not double-count), clean text
    passes through byte-identical."""
    from pyspark.sql import functions as F

    from mapreduce_hadoop_spark.operators.textops import (
        _PHONE_REPL_SPARK,
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )

    rows = [
        (1, "contact alice.smith+work@example.co.uk or call 415-555-0123 now"),
        (2, "two phones: +1 415 555 0123 and also 4155550123."),
        (3, "clean text stays clean"),
        (4, "digits inside an email a123456789b@x.io are not a phone"),
        (5, "parenthesized (415) 555-0123 and tight (415)555-0123 match"),
        (6, "id 12345678901234567 contains no phone; order #4155550123999"),
        (7, "dotted 415.555.0123 and dashed +1-415-555-0123"),
        (8, "4155550123"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n_email = F.regexp_count("text", F.lit(PII_EMAIL_RE)).cast("bigint")
    no_email = F.regexp_replace("text", PII_EMAIL_RE, "[EMAIL]")
    n_phone = F.regexp_count(no_email, F.lit(PII_PHONE_RE)).cast("bigint")
    scrubbed = F.regexp_replace(no_email, PII_PHONE_RE, _PHONE_REPL_SPARK)
    got = {
        r["doc_id"]: (r["s"], r["ne"], r["np"])
        for r in docs.select(
            "doc_id", scrubbed.alias("s"), n_email.alias("ne"), n_phone.alias("np")
        ).collect()
    }
    assert got[1] == ("contact [EMAIL] or call [PHONE] now", 1, 1)
    assert got[2][1:] == (0, 2)
    assert "[PHONE]" in got[2][0] and "phones:" in got[2][0]
    assert got[3] == ("clean text stays clean", 0, 0)
    assert got[4] == ("digits inside an email [EMAIL] are not a phone", 1, 0)
    # Parenthesized area codes (the formats the round-4 pattern missed).
    assert got[5] == ("parenthesized [PHONE] and tight [PHONE] match", 0, 2)
    # Digit-run boundary guards: 10-digit substrings of longer runs must
    # NOT partially redact.
    assert got[6] == (rows[5][1], 0, 0)
    assert got[7] == ("dotted [PHONE] and dashed [PHONE]", 0, 2)
    # Whole-string phone: both guards match empty (^ / $).
    assert got[8] == ("[PHONE]", 0, 1)


def test_dedup_keep_best_is_cluster_quality_argmax(spark, sf_dir):
    """keep_doc must be the (quality desc, doc_id asc) argmax of each
    cluster, with n_members matching the cluster's cardinality."""
    from mapreduce_hadoop_spark.operators.dedup import (
        dedup_clusters,
        dedup_keep_best,
    )
    from mapreduce_hadoop_spark.operators.textops import quality_score

    clusters = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(spark, sf_dir).collect()
    }
    quality = {
        r["doc_id"]: r["quality"] for r in quality_score(spark, sf_dir).collect()
    }
    want: dict[int, tuple] = {}
    for doc, cl in clusters.items():
        key = (-quality[doc], doc)
        if cl not in want or key < want[cl][0]:
            want[cl] = (key, doc)
    sizes: dict[int, int] = {}
    for cl in clusters.values():
        sizes[cl] = sizes.get(cl, 0) + 1
    got = dedup_keep_best(spark, sf_dir).collect()
    assert len(got) == len(want) > 0
    for r in got:
        assert r["keep_doc"] == want[r["cluster_id"]][1]
        assert r["n_members"] == sizes[r["cluster_id"]]


def test_simhash60_np_matches_pure_python():
    """The vectorized batch core reproduces the definition: per bit j,
    majority of set bits across the row's hashes."""
    import numpy as np

    from mapreduce_hadoop_spark.operators.dedup import SIMHASH_BITS, _simhash60_np

    rng_rows = [
        [0x123456789ABCDEF, 0x0F0F0F0F0F0F0F0, 0x7FFFFFFFFFFFFFF],
        [1],
        [(1 << 60) - 1, 0],
        [0x5A5A5A5A5A5A5A5, 0x5A5A5A5A5A5A5A5, 0x25A5A5A5A5A5A5A],
    ]
    got = _simhash60_np([np.asarray(r, dtype=np.int64) for r in rng_rows])
    for row, sim in zip(rng_rows, got):
        want = 0
        for j in range(SIMHASH_BITS):
            cnt = sum((h >> j) & 1 for h in row)
            if 2 * cnt > len(row):
                want |= 1 << j
        assert int(sim) == want, (row, int(sim), want)
    assert len(_simhash60_np([])) == 0


def test_simhash_arrow_fold_matches_jvm(spark, sf_dir):
    """The r13 Arrow signature fold is bit-identical to the r12 JVM
    array-accumulator it replaced (integer arithmetic — kept as the
    rule-1a parity reference; measured 0.65 s vs 2.1 s warm at sf1 on
    the persisted hash relation)."""
    from mapreduce_hadoop_spark.operators.dedup import (
        _shingle_hashes60,
        _simhash_from_hs,
    )

    hs = _shingle_hashes60(spark, sf_dir)
    new = {r["doc_id"]: r["simhash"] for r in _simhash_from_hs(hs).collect()}
    old = {r["doc_id"]: r["simhash"] for r in _simhash_from_hs_jvm(hs).collect()}
    assert len(new) > 0
    assert new == old


def test_simhash_pairs_builder_py4j_calls_are_bounded(spark, sf_dir, monkeypatch):
    """The probe-join builder writes its 68 (block, flip) structs and the
    first-match array as SQL expression strings: built from Column calls
    they cost ~6,800 py4j round trips on the driver (measured 6,986–7,863
    for the whole ``simhash_pairs`` build at sf0.001; ~800–1,100 now)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        dedup.simhash_pairs(spark, sf_dir)
    finally:
        monkeypatch.undo()
        dedup.unpersist_intermediates()
    assert 0 < calls <= 2000, calls
