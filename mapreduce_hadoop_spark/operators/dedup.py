"""Deduplication operators for training-data pipelines (north-star extension).

Nine registered queries over `documents`, each with a DuckDB oracle:

- ``dedup_exact`` / ``dedup_exact_normalized``: 60-bit text hash (raw or
  normalized text), keep the minimum doc_id per hash. The test corpus
  has no exact dups, so deterministic duplicated / variant views feed them.
- ``dedup_minhash_lsh``: 3-token shingles -> 16 universal-hash minima -> 8
  bands x 2 rows -> band buckets -> in-row candidate pairs -> exact-Jaccard
  verify (shuffle on the band key, never all-pairs).
- ``dedup_simhash``: 60-bit simhash; ALL pairs with hamming <= 7 via
  multi-index Hamming search (4 x 15-bit blocks, 1-bit-flip probe join).
- ``dedup_ngram_jaccard``: exact Jaccard over the shingle inverted index —
  shingle buckets, in-row pairs, a document-frequency cap on fan-out.
- ``contamination_check``: corpus docs sharing shingles with a held-out
  benchmark set (broadcast semi-join).
- ``text_span_dedup``: C4-style cross-document span duplication stats.
- ``dedup_clusters`` / ``dedup_keep_best``: connected components of the
  MinHash-LSH pair graph, and the best-quality keeper per component.

The near-dup families share one shape — signature buckets, in-row
candidate pairs (``in_row_pairs``), exact verify — and the exact families
one keeper (``keeper_id``). Every family is shuffle-on-key (shingle, band
signature, hash block); none is O(n^2) in documents. Hot keys are bounded
by the DF cap (ngram) or the bucket cap (LSH). All hashing is the portable
md5-based 60-bit hash of functions/hashing.py, identical in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions import text as T
from mapreduce_hadoop_spark.functions.hashing import (
    MINHASH_PRIME as P,
    md5_long,
    md5_long_sql,
    minhash_params,
)
from mapreduce_hadoop_spark.session import (
    persisted,
    register_intermediate,
    release,
    unpersist_intermediates,  # noqa: F401 — re-exported
)
from mapreduce_hadoop_spark.sources.tables import load_table, load_table_widened

# 16 permutations as 8 bands x 2 rows (was 32/16x2): halves the signature
# fold and the band fan-out for a measured 1.7x on the pair build (sf1:
# 5.9 -> 3.5 s warm) with OUTPUT-IDENTICAL pairs on every gate corpus
# (250,600 pairs at sf1, recall 1.0 vs the 32-perm set — this corpus's
# true pairs sit well above the threshold, where both configs are ~certain).
# S-curve honesty at the j=0.5 boundary: P(candidate) = 1-(1-j^2)^8 = 0.90
# vs 0.99 with 16 bands — the pairs at risk are the least-similar ones,
# and the exact-Jaccard verify keeps precision exact either way. The
# full-agreement bound in tests/test_dedup_quality.py re-arms on any
# corpus where the banding actually loses a pair.
NUM_PERMS = 16
BANDS = 8
ROWS_PER_BAND = 2
JACCARD_THRESHOLD = 0.5
# 60-bit simhash (the full md5_long hash, not the 31-bit
# mod-P minhash domain) in 4 x 15-bit blocks with 1-bit-flip probe
# enumeration — multi-index Hamming search. The 32-bit/4x8 scheme
# saturated at scale: 2^8 block values over 500k docs put ~2k docs in
# every bucket (173 s at sf10, candidate-bound),
# and block-EQUALITY join was only pigeonhole-complete for hamming <= 3
# despite filtering at <= 6. Now each side's blocks join against the
# probe side's <=1-bit-flip neighborhood, which by pigeonhole is
# COMPLETE for hamming <= SIMHASH_BLOCKS*2 - 1 = 7: the operator's
# semantics become exactly "all pairs with hamming(simhash60) <= 7", and
# the oracle can state that directly. 2^15 block values keep buckets
# ~n/32768 — at 500k docs ~15 docs/bucket, 16 probes/block/doc: linear.
# Quality at sf0.01 vs exact Jaccard>=0.5 pairs: recall 1.0 (was 0.96)
# with 25 emitted pairs (was 82) — tighter per-bit threshold AND fewer
# false candidates; re-pinned in tests/test_dedup_quality.py.
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 4
HAMMING_MAX = 7
NGRAM_DF_CAP = 200  # shingles in more docs than this don't generate pairs
# Band buckets larger than this don't generate candidate pairs. Boilerplate
# corpora collapse many docs onto one band signature, making that bucket's
# self-join quadratic; >cap docs sharing a 2-minhash signature is almost
# surely boilerplate, and dropping the bucket bounds the blowup (same
# tradeoff as NGRAM_DF_CAP — pairs whose every band is boilerplate are
# lost, documented).
LSH_BUCKET_CAP = 200

_PERMS = minhash_params(NUM_PERMS)


def in_row_pairs(ds: Column, pair) -> Column:
    """``pair(x, y)`` for every x before y in the in-row array ``ds`` —
    its strict upper triangle, as one flat array to explode. Over a
    sorted bucket of unique ids that is exactly the x < y pairs a
    bucket self-join would emit, without the join."""
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)), lambda y: pair(x, y)
            ),
        )
    )


def keeper_id() -> Column:
    """The doc a text-hash group keeps: ``min(doc_id)`` over the rows
    sharing ``h`` — one exchange on h, no join back."""
    return F.min("doc_id").over(Window.partitionBy("h"))


# --- exact dedup -----------------------------------------------------------

DOCS_WITH_DUPS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


def docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.unionAll(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
        )
    )


def _exact_dups(docs: DataFrame, text: Column) -> DataFrame:
    """(dup_doc_id, keep_doc_id) for every (doc_id, text) row whose
    ``text`` hashes like a smaller doc_id's: ONE shuffle on the 60-bit
    hash, the keeper from ``keeper_id``."""
    keep = docs.select("doc_id", md5_long(text).alias("h")).select(
        "doc_id", keeper_id().alias("keep_doc_id")
    )
    return keep.filter(F.col("doc_id") != F.col("keep_doc_id")).select(
        F.col("doc_id").alias("dup_doc_id"), "keep_doc_id"
    )


# The oracles' keeper: the minimum doc_id per hash of their `h` relation.
_EXACT_KEEP_SQL = """keep AS (SELECT h, min(doc_id) AS keep_doc_id FROM h GROUP BY h)
SELECT doc_id AS dup_doc_id, keep_doc_id
FROM h JOIN keep USING (h)
WHERE doc_id <> keep_doc_id
"""


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dup_doc_id, keep_doc_id) for every doc whose text also appears under
    a smaller doc_id."""
    return _exact_dups(docs_with_dups(spark, sf_dir), F.col("text"))


EXACT_DEDUP_ORACLE = f"""
WITH d AS ({DOCS_WITH_DUPS_SQL}),
h AS (SELECT doc_id, {md5_long_sql("text")} AS h FROM d),
{_EXACT_KEEP_SQL}"""


# --- normalized exact dedup (C4/CCNet normalize-then-hash) -------------------

# Normalization IS textops.normalize_text_col (one shared expression,
# oracle-verified through this query): strip URLs, lowercase, collapse
# whitespace runs, trim — then hash. Catches the near-trivial variants
# (case, spacing, tracking URLs appended) that raw exact dedup misses but
# that dominate real crawl duplication.
from mapreduce_hadoop_spark.operators.textops import _URL_RE as _NORM_URL_RE
from mapreduce_hadoop_spark.operators.textops import _WS_RE as _NORM_WS_RE
from mapreduce_hadoop_spark.operators.textops import normalize_text_col


def _variant_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus + synthetic trivial variants: every doc_id % 7 == 0 document
    reappears under doc_id + 2000000, uppercased, padded with whitespace,
    and with a URL appended — byte-distinct, normalization-identical."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(
            F.lit("  "), F.upper(F.col("text")), F.lit(" https://track.example/q?id=1 ")
        ).alias("text"),
    )
    return d.unionAll(variants)


_VARIANT_DOCS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 2000000 AS doc_id,
       '  ' || upper(text) || ' https://track.example/q?id=1 ' AS text
FROM documents WHERE doc_id % 7 = 0
"""


def exact_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dup_doc_id, keep_doc_id) under normalize-then-hash equality.

    Scale shape identical to ``exact_dedup`` — the normalization is
    map-only codegen'd expression work fused into the scan, then ONE
    shuffle on the 60-bit hash of the normalized text. At 100 TB the only
    data crossing the wire is (doc_id, hash) pairs, never text.
    """
    return _exact_dups(
        _variant_docs(spark, sf_dir), normalize_text_col(F.col("text"))
    )


EXACT_DEDUP_NORMALIZED_ORACLE = f"""
WITH d AS ({_VARIANT_DOCS_SQL}),
h AS (
    SELECT doc_id,
           {md5_long_sql(
               "trim(regexp_replace(lower(regexp_replace(text, '" + _NORM_URL_RE
               + "', '', 'g')), '" + _NORM_WS_RE + "', ' ', 'g'))"
           )} AS h
    FROM d
),
{_EXACT_KEEP_SQL}"""


# --- shared shingle views --------------------------------------------------


def _doc_shingles(
    spark: SparkSession, sf_dir: str, nonempty: bool = False
) -> DataFrame:
    """(doc_id, sh: array<string>) — sorted distinct 3-token shingles.

    Everything downstream (shingling, per-shingle md5, minhash/simhash) is
    CPU-bound per row, so the scan's partitioning caps the whole family's
    parallelism. A small corpus arrives as one parquet split; spread it
    across the cores before the expensive projection
    (``load_table_widened``). At cluster scale the scan already yields >=
    defaultParallelism splits and this is a no-op.

    ``nonempty=True`` drops zero-shingle docs HERE, as a token-count test
    on the raw text (``size(tokens) >= 3`` is exactly ``shingles()``'s
    CASE guard, so it is equivalent to ``size(sh) > 0`` — distinct of a
    non-empty array is non-empty, NULL text fails both). Callers that
    would otherwise filter ``size(hs) > 0`` downstream should use this
    instead: a pushed-down filter on a derived column re-evaluates the
    whole shingle+md5 chain once in the Filter and again in the
    projection/UDF input (guide §4.4's duplication, in JVM-expression
    form — measured as the Filter node in dedup_simhash's plan carrying
    the full transform/md5 tree), where the token-count test re-evaluates
    only the split.
    """
    docs = load_table_widened(spark, sf_dir, "documents")
    if nonempty:
        # T.SHINGLE_K, not a literal: the prefilter must restate
        # shingles()'s own n >= k guard, and a hardcoded width would
        # silently desync if the shared default ever moved.
        docs = docs.filter(F.size(T.tokens("text")) >= T.SHINGLE_K)
    return docs.select("doc_id", T.shingles("text").alias("sh"))


_SH = T.shingles_sql("text")
DOC_SHINGLES_SQL = f"SELECT doc_id, {_SH} AS sh FROM documents"


# --- MinHash + LSH ---------------------------------------------------------


def _shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs: array<long>) — md5-based 31-bit hash per shingle, in-row.

    Keeping the hashes as an array makes every signature map-only: no
    explode, no shuffle — the signature stage runs at scan bandwidth.
    """
    return _doc_shingles(spark, sf_dir).select(
        "doc_id",
        F.transform(F.col("sh"), lambda s: md5_long(s) % F.lit(P)).alias("hs"),
    )


SHINGLE_HASHES_SQL = (
    f"SELECT doc_id, [({md5_long_sql('s')}) % {P} for s in sh] AS hs "
    f"FROM ({DOC_SHINGLES_SQL})"
)


def _minhash_from(hs: DataFrame) -> DataFrame:
    # One aggregate pass carrying an array<long> of running minima (one slot
    # per permutation) instead of 32 separate transform+array_min columns:
    # ~3x smaller expression tree, which cuts plan/codegen latency (the
    # dominant cost of a cold run) and one array traversal instead of 32.
    params = F.array(
        *[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in _PERMS]
    )
    sig = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(P).cast("long"), NUM_PERMS),
        lambda acc, x: F.zip_with(
            acc, params, lambda m, p: F.least(m, (p["a"] * x + p["b"]) % F.lit(P))
        ),
    )
    return (
        hs.filter(F.size("hs") > 0)
        .select("doc_id", sig.alias("sig"))
        .select("doc_id", *[F.col("sig")[i].alias(f"mh{i}") for i in range(NUM_PERMS)])
    )


def _minhash_sigs_sql() -> str:
    mins = ", ".join(
        f"list_min([({a} * h + {b}) % {P} for h in hs]) AS mh{i}"
        for i, (a, b) in enumerate(_PERMS)
    )
    return f"""
hsv AS ({SHINGLE_HASHES_SQL}),
sigs AS (SELECT doc_id, {mins} FROM hsv WHERE len(hs) > 0)
"""


def _band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) — one row per (doc, band) with the band signature."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{b * ROWS_PER_BAND + r}")
                                for r in range(ROWS_PER_BAND)
                            ],
                        ).alias("sig"),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.sig")


def minhash_lsh_pairs_from(hs: DataFrame) -> DataFrame:
    """Near-duplicate pairs: LSH banding for candidates, exact Jaccard verify.

    Returns (doc_a, doc_b, jaccard) with jaccard >= 0.5, doc_a < doc_b.

    The shingle-hash relation feeds three branches (signatures + both verify
    joins); it is persisted so the shingle/md5 work runs exactly once (at
    cluster scale: MEMORY_AND_DISK, ~O(total shingles) longs). The Jaccard
    verify runs on the hash arrays — set-identical to string shingles up to
    2^-31 collisions, and far cheaper to shuffle than the strings.

    Candidate generation is ONE shuffle of the band relation (the
    ``ngram_jaccard_pairs`` bucket pattern): groupBy (band, sig) collects
    each bucket's doc_ids sorted, the cap filters the bucket itself, and
    ``in_row_pairs`` generates the pairs with array expressions — no band
    self-join, so the signature fold runs once. Band buckets above
    ``LSH_BUCKET_CAP`` are excluded (quadratic-blowup guard); a bucket's
    doc list is materialized in-row, bounded by the same cap.
    """
    hs = persisted(hs)
    bands = _band_keys(_minhash_from(hs))
    # sort_array canonicalizes collect_list's nondeterministic order, and
    # doc_id is unique within a bucket (one row per (doc, band)), so the
    # strict upper triangle is exactly the doc_a < doc_b pairs.
    buckets = (
        bands.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds").between(2, LSH_BUCKET_CAP))
    )
    cand = (
        buckets.select(
            F.explode(
                in_row_pairs(
                    F.col("ds"),
                    lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )
    cand = (
        cand.join(hs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "sh_a"), "doc_a")
        .join(hs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.round(inter / union, 6)
    return (
        cand.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs_from(_shingle_hashes(spark, sf_dir))


def _minhash_lsh_ctes() -> str:
    """The CTE block of the LSH oracle, reusable under WITH / WITH RECURSIVE."""
    band_rows = ", ".join(
        "({b}, mh{i0} || '_' || mh{i1})".format(
            b=b, i0=b * ROWS_PER_BAND, i1=b * ROWS_PER_BAND + 1
        )
        for b in range(BANDS)
    )
    return f"""{_minhash_sigs_sql()},
bands AS (
    SELECT doc_id, bk.*,
           count(*) OVER (PARTITION BY bk.band, bk.sig) AS bucket_n
    FROM sigs,
    LATERAL (VALUES {band_rows}) AS bk(band, sig)
),
bandsf AS (SELECT doc_id, band, sig FROM bands WHERE bucket_n <= {LSH_BUCKET_CAP}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bandsf a JOIN bandsf b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sh2 AS (SELECT doc_id, hs AS sh FROM hsv)"""


_MINHASH_LSH_SELECT = f"""
SELECT doc_a, doc_b,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
FROM cand
JOIN sh2 sa ON sa.doc_id = doc_a
JOIN sh2 sb ON sb.doc_id = doc_b
WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
            (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) >= {JACCARD_THRESHOLD}
"""


MINHASH_LSH_ORACLE = f"WITH {_minhash_lsh_ctes()} {_MINHASH_LSH_SELECT}"


# --- SimHash ---------------------------------------------------------------


def _shingle_hashes60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs: array<long>) — FULL 60-bit md5 hash per shingle.

    SimHash's own relation: the minhash pipeline's mod-P domain is
    31-bit, which would leave bits 31+ of the 60-bit signature dead.
    Separate from ``_shingle_hashes`` so the minhash/jaccard relation
    (and everything persisted against it) is untouched.

    Zero-shingle docs are dropped at the SOURCE (``nonempty=True``: the
    equivalent cheap token-count test on the raw text), as
    ``_simhash_from_hs`` requires."""
    return _doc_shingles(spark, sf_dir, nonempty=True).select(
        "doc_id",
        F.transform(F.col("sh"), lambda s: md5_long(s)).alias("hs"),
    )


SHINGLE_HASHES60_SQL = (
    f"SELECT doc_id, [({md5_long_sql('s')}) for s in sh] AS hs "
    f"FROM ({DOC_SHINGLES_SQL})"
)


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 60-bit simhash over full-width shingle hashes.

    Per bit j: count of set bits vs array length decides the sign. One
    ``aggregate`` fold carries all 60 bit-counters in an array accumulator
    (same pattern as the minhash rewrite above): a single traversal of each
    doc's hash array and a ~60x smaller expression tree than the naive
    one-list_filter-per-bit formulation, whose plan/codegen latency
    dominated cold runs.
    """
    return _simhash_from_hs(_shingle_hashes60(spark, sf_dir))


def _simhash60_np(hs_list: "list") -> "object":
    """Vectorized 60-bit simhash over a batch of shingle-hash arrays.

    Integer arithmetic only — bit-for-bit the JVM fold it replaces
    (parity pinned against that fold in tests/test_dedup_quality and by
    the rule-1a gate-hash pin on ``dedup_simhash``): per bit j,
    the set-bit count across the row's hashes (``np.add.reduceat`` over
    the batch-concatenated hash array) decides the sign via the same
    ``2*cnt > n`` majority. Rows must be non-empty (the caller filters
    ``size(hs) > 0``; reduceat misbehaves on repeated start offsets).
    """
    import numpy as np

    lengths = np.fromiter(
        (len(a) for a in hs_list), dtype=np.int64, count=len(hs_list)
    )
    if not len(lengths):
        return np.zeros(0, dtype=np.int64)
    all_h = np.concatenate([np.asarray(a, dtype=np.int64) for a in hs_list])
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    sim = np.zeros(len(lengths), dtype=np.int64)
    for j in range(SIMHASH_BITS):
        cnt = np.add.reduceat((all_h >> j) & 1, starts)
        sim |= ((2 * cnt > lengths).astype(np.int64)) << j
    return sim


def _simhash_from_hs(hs: DataFrame) -> DataFrame:
    """60-bit simhash per doc of a (doc_id, hs) relation with no empty
    ``hs`` (``_simhash60_np`` needs non-empty rows), Arrow-vectorized.

    The JVM formulation (kept in tests/test_dedup_quality as the parity
    reference) folded a 60-counter array accumulator over each doc's hash
    array — ~60 interpreted lambda ops per shingle hash, measured as ~5-6 s of
    ``dedup_simhash``'s 11.1 s sf1 wall. The fold is pure integer
    arithmetic, so it vectorizes with ZERO output-identity risk; the
    pandas_udf batch runs ``np.add.reduceat`` per bit over the
    concatenated batch. Map-only either way.

    Callers drop empty arrays themselves: ``_shingle_hashes60`` at the
    source as a token-count test (a ``size(hs) > 0`` filter pushed below
    the ArrowEvalPython re-evaluates the whole shingle+md5 input once for
    the Filter and again for the UDF input).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def sim60(col):
        return pd.Series(_simhash60_np(list(col)))

    return hs.select(
        "doc_id", pandas_udf(sim60, "long")(F.col("hs")).alias("simhash")
    )


def _simhash_sigs_sql() -> str:
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {j}) & 1) = 1)) > len(hs) "
        f"THEN {2**j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
hsv AS ({SHINGLE_HASHES60_SQL}),
sigs AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM hsv WHERE len(hs) > 0)
"""


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) — ALL pairs with hamming(simhash60) <= 7,
    via multi-index Hamming search: 4 x 15-bit blocks, the probe side
    joining its <=1-bit-flip block neighborhood (16 probes/block) against
    the exact side. Pigeonhole: 7 errors over 4 blocks leave some block
    with <= 1, so the search is COMPLETE at the stated threshold — unlike
    a block-equality join scheme, which filtered at hamming <= 6
    but could only guarantee pairs up to hamming 3.

    The signature relation is persisted before the self-join: without it,
    BOTH join sides re-run the whole shingle->md5->fold pipeline (and the
    broadcast side evaluates it on a single thread), which measured ~14x
    slower than persist+join at sf0.1. O(docs) longs of storage.

    Scale shape: 2^15 block values keep bucket occupancy ~n/32768 (the
    32-bit scheme's 2^8 buckets held ~n/256 — the measured 173 s
    candidate-bound wall at sf10). Probe fan-out is a fixed 64 rows/doc
    of (blk, val, simhash) — the standard multi-index trade: candidates
    ~ 64 * n * n/2^15, linear for any corpus this side of ~10^7 docs per
    partition-table. Pair dedup is in-row, not a shuffle: a pair's rows
    exist exactly at the blocks with <= 1 differing bit, so "first such
    block" is a pure bit expression on the two signatures riding the
    join, and the hamming filter runs straight at the join output.
    """
    return simhash_pairs_from(persisted(simhash_signatures(spark, sf_dir)))


def simhash_pairs_from(sigs: DataFrame) -> DataFrame:
    """Probe-join pair generation from a (doc_id, simhash) relation; see
    ``simhash_pairs`` (callers persist ``sigs`` — both join sides scan it).
    """
    block_size = SIMHASH_BITS // SIMHASH_BLOCKS

    # Each side is one SQL expression string: built from Column calls, the
    # 68 structs below cost ~6,800 py4j round trips on the driver.
    def _blk(sig: str, i: int) -> str:
        return f"(shiftright({sig}, {i * block_size}) & {(1 << block_size) - 1})"

    def _block_rows(flips: list) -> DataFrame:
        """(doc_id, simhash, blk, val): one row per block and flip, val
        the block value XOR the flip (``None``: the block value itself)."""
        def val(i: int, f) -> str:
            v = _blk("simhash", i)
            return v if f is None else f"({v} ^ {f})"

        structs = ", ".join(
            f"struct({i} AS blk, {val(i, f)} AS val)"
            for i in range(SIMHASH_BLOCKS)
            for f in flips
        )
        return sigs.select(
            "doc_id", "simhash", F.explode(F.expr(f"array({structs})")).alias("bk")
        ).select("doc_id", "simhash", "bk.blk", "bk.val")

    # Probe side: each block value plus its 1-bit-flip neighborhood.
    probes = _block_rows([0] + [1 << t for t in range(block_size)])
    exact = _block_rows([None])
    a, b = probes.alias("a"), exact.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # A (pair, block) match exists iff that block has <= 1 differing bit
    # (and then for exactly one flip), so first-match dedup reduces to
    # "this is the first block whose hamming is <= 1".
    first_match = F.expr(
        "array_position(array("
        + ", ".join(
            f"bit_count({_blk('a.simhash', i)} ^ {_blk('b.simhash', i)}) <= 1"
            for i in range(SIMHASH_BLOCKS)
        )
        + "), true)"
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter((first_match == F.col("a.blk") + 1) & (ham <= F.lit(HAMMING_MAX)))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )


def _simhash_oracle() -> str:
    block_size = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << block_size) - 1
    block_rows = ", ".join(
        f"({i}, (simhash >> {i * block_size}) & {mask})" for i in range(SIMHASH_BLOCKS)
    )
    # Same probe search in SQL (complete for hamming <= 7, so DISTINCT
    # over probe matches IS the full hamming-<=7 pair set) — subquadratic
    # like the Spark plan, so the sf1 gates stay cheap.
    return f"""
WITH {_simhash_sigs_sql()},
blocks AS (
    SELECT doc_id, simhash, bk.* FROM sigs,
    LATERAL (VALUES {block_rows}) AS bk(blk, val)
),
probes AS (
    SELECT doc_id, simhash, blk,
           xor(val, CASE WHEN f = 0 THEN 0 ELSE 1 << (f - 1) END) AS val
    FROM blocks, LATERAL (SELECT unnest(generate_series(0, {block_size})) AS f)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM probes a JOIN blocks b
  ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


SIMHASH_ORACLE = _simhash_oracle()


# --- exact n-gram Jaccard via inverted index -------------------------------


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard >= 0.5 pairs via the shingle inverted index.

    One shuffle total: shingles are hashed to 60-bit longs in-row (8-byte
    shuffle keys instead of ~20-byte strings), bucketed by
    ``groupBy(shingle).collect_list``, and pairs are generated inside each
    bucket with array expressions — no joins at all. The document-frequency
    cap is the ``size(ds) <= NGRAM_DF_CAP`` filter on the bucket itself
    (replacing the old separate DF-count aggregation + two join shuffles),
    bounding hot-shingle fan-out to cap*(cap-1)/2 structs per bucket; pairs
    whose entire overlap is boilerplate are lost, as before.

    Hashing makes the Jaccard 60-bit-exact rather than string-exact: two
    distinct shingles colliding in 2^60 space would inflate ``common`` by 1.
    At 10^7 distinct shingles the expected number of colliding *pairs* is
    ~10^14/2^61 < 1e-4 — and the oracle hashes identically, so parity holds
    regardless. (Was: string self-join, 199 s at sf1; this form 45 s.)
    """
    sh = _doc_shingles(spark, sf_dir)
    ex = sh.select(
        "doc_id",
        F.size("sh").alias("n_sh"),
        F.explode(F.transform("sh", lambda s: md5_long(s))).alias("shingle"),
    )
    # collect_list order is nondeterministic; sort_array on (doc_id, n_sh)
    # structs canonicalizes each bucket (doc_id is unique within a shingle
    # because _doc_shingles emits distinct shingles per doc), which both
    # guarantees doc_a < doc_b below and keeps the plan deterministic.
    buckets = (
        ex.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter(F.size("ds").between(2, NGRAM_DF_CAP))
    )
    pairs = buckets.select(
        F.explode(
            in_row_pairs(
                F.col("ds"),
                lambda x, y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["n_sh"].alias("na"),
                    y["n_sh"].alias("nb"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    # Strict-inequality guard: if two distinct shingles within the SAME
    # document ever collided in 60-bit space, the bucket would hold that
    # doc_id twice and sorted-adjacent pair generation would emit a
    # doc_a == doc_b self-pair — which the oracle's self-join (strict
    # doc_id inequality) can never produce. ~2^-60 per shingle pair, but
    # the filter is free (doc_a <= doc_b already holds from the sort).
    pairs = pairs.filter(F.col("doc_a") != F.col("doc_b"))
    co = pairs.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.count(F.lit(1)).alias("common")
    )
    jac = F.round(
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        6,
    )
    return co.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= F.lit(JACCARD_THRESHOLD)
    )


# --- benchmark contamination check -----------------------------------------

# Every doc_id % CONTAM_BENCH_MOD == 0 plays the held-out benchmark set
# (deterministic stand-in for an external eval suite); the check flags
# corpus documents sharing shingles with it — the train/test overlap scan
# an LLM data pipeline runs before training.
CONTAM_BENCH_MOD = 97


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sh, n_hits, contam_ratio) for every non-benchmark doc
    sharing >= 1 shingle with the benchmark set.

    Scale shape: the benchmark side is eval-suite-sized (thousands of
    docs), so its distinct-shingle set is broadcast and the corpus side
    never shuffles — the whole check is scan + broadcast-semi-hash +
    partial agg on doc_id. Shingles per doc are distinct (``_doc_shingles``),
    so n_hits is exactly |doc shingles ∩ benchmark shingles| up to 60-bit
    hash identity: shingles are md5-hashed in-row BEFORE the explode, which
    is 6.7x cheaper than exploding the strings themselves (sf1: 26 s -> 4 s
    for the explode; the whole check 30.5 s -> 3.4 s, byte-identical) and
    shrinks the broadcast relation. The oracle hashes identically; a 2^60
    collision (expected < 1e-4 pairs at 10^7 distinct shingles) would count
    one phantom hit on both sides alike.
    """
    sh = _doc_shingles(spark, sf_dir)
    is_bench = F.col("doc_id") % CONTAM_BENCH_MOD == 0
    hashed = F.transform("sh", lambda s: md5_long(s))
    bench = (
        sh.filter(is_bench)
        .select(F.explode(hashed).alias("shingle"))
        .distinct()
    )
    # size() is IntegerType (pandas int32); DuckDB len() is BIGINT. The
    # driver's hasher is dtype-strict, so widen to bigint at the source.
    corpus = sh.filter(~is_bench).select(
        "doc_id",
        F.size("sh").cast("bigint").alias("n_sh"),
        F.explode(hashed).alias("shingle"),
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_sh",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_sh").cast("double"), 6
            ).alias("contam_ratio"),
        )
    )


CONTAMINATION_ORACLE = f"""
WITH sh AS ({DOC_SHINGLES_SQL}),
bench AS (
    SELECT DISTINCT {md5_long_sql('unnest(sh)')} AS shingle
    FROM sh WHERE doc_id % {CONTAM_BENCH_MOD} = 0
),
corpus AS (
    SELECT doc_id, len(sh) AS n_sh, {md5_long_sql('unnest(sh)')} AS shingle
    FROM sh WHERE doc_id % {CONTAM_BENCH_MOD} <> 0
)
SELECT doc_id, n_sh, count(*) AS n_hits,
       round(count(*)::DOUBLE / n_sh, 6) AS contam_ratio
FROM corpus JOIN bench USING (shingle)
GROUP BY doc_id, n_sh
"""


# --- cross-document span dedup (C4-style) -----------------------------------

# Non-overlapping span width for cross-document span dedup, in tokens.
# C4 deduplicates exact lines across documents; this corpus is single-line,
# so the unit of repetition is a fixed token window instead.
SPAN_TOKENS = 16


def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-corpus span duplication: (doc_id, n_spans,
    n_dup_spans, dup_frac), where a span is a non-overlapping SPAN_TOKENS
    window and a span is a duplicate unless it is the corpus-wide FIRST
    occurrence of its text (ordered by (doc_id, span_id)) — the C4 /
    RefinedWeb "remove repeated spans across documents" hygiene pass,
    reduced to its stats so the row count stays per-document.

    Scale shape: spans are hashed to 60-bit longs in-row (no span strings
    leave the map side), then ONE shuffle on span hash feeds a window min
    of the (doc_id, span_id) struct order; the per-doc rollup is the only
    other exchange. No joins, no collects; hot spans (boilerplate repeated
    corpus-wide) concentrate on single hash keys, but each key's state is
    a single running min — O(1) per key, skew-safe.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return span_dedup_stats_from(docs)


def span_dedup_stats_from(docs: DataFrame) -> DataFrame:
    """Span-dedup stats from any (doc_id, text) relation; see
    ``span_dedup_stats``."""
    toks = T.tokens("text")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(SPAN_TOKENS))
    spans = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.posexplode(starts).alias("pos", "start"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("bigint").alias("span_id"),
        md5_long(
            F.array_join(F.slice(F.col("toks"), F.col("start"), SPAN_TOKENS), " ")
        ).alias("span_h"),
    )
    # First occurrence = window min of the (doc_id, span_id) STRUCT —
    # structs order lexicographically in both engines, so correctness does
    # not hinge on any encoded-integer document-length invariant (an
    # earlier doc_id * 10^6 + span_id encoding silently mis-ranked
    # documents past 16M tokens; pathological documents occur at corpus
    # scale, so the unchecked bound had to go).
    ord_ = F.struct(F.col("doc_id"), F.col("span_id"))
    w = Window.partitionBy("span_h")
    marked = spans.select(
        "doc_id",
        F.when(F.min(ord_).over(w) != ord_, F.lit(1)).otherwise(F.lit(0)).alias("d"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("d").cast("bigint").alias("n_dup_spans"),
        F.round(
            F.sum("d").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_frac"),
    )


SPAN_DEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents),
s AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks), {SPAN_TOKENS})) AS start
    FROM t
),
sp AS (
    SELECT doc_id,
           CAST((start - 1) / {SPAN_TOKENS} AS BIGINT) + 1 AS span_id,
           {md5_long_sql(f"array_to_string(list_slice(toks, start, start + {SPAN_TOKENS - 1}), ' ')")} AS span_h
    FROM s
),
m AS (
    SELECT doc_id,
           CASE WHEN min(ROW(doc_id, span_id)) OVER (PARTITION BY span_h)
                <> ROW(doc_id, span_id) THEN 1 ELSE 0 END AS d
    FROM sp
)
SELECT doc_id, count(*) AS n_spans,
       CAST(sum(d) AS BIGINT) AS n_dup_spans,
       round(sum(d)::DOUBLE / count(*), 6) AS dup_frac
FROM m GROUP BY doc_id
"""


# --- near-dup cluster assignment (connected components) ---------------------


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(doc, lbl) minimum-id component labels for an (a, b) edge relation.

    ``edges`` may be directed/deduplicated (each pair once, either order):
    the relation is symmetrized internally, so propagation flows both ways
    and every endpoint gets a label row — passing a raw pair list is safe.

    Each round combines the two classic large-scale CC moves, all as
    key-shuffled joins/aggregations (no Python per-row work):

    1. min-label PROPAGATION — every node takes min(own label, neighbors'
       labels); alone this needs O(diameter) rounds;
    2. POINTER JUMPING — every node then replaces its label with its
       label's label (labels always point at real nodes, so the lookup is
       a self-join). Chains compress doubling-style, so the combination
       converges in O(log diameter) rounds: max_iter=20 covers components
       a million hops deep, vs. 20 hops for propagation alone.

    The driver only coordinates the fixpoint check (a count, never row
    data); ``localCheckpoint`` cuts per-round lineage so plan depth stays
    O(1) per round rather than O(rounds). Each superseded round's
    checkpoint is released once its count is taken, and the returned
    labels are registered for ``unpersist_intermediates``. Exhausting
    max_iter raises — non-fixpoint labels would be silently wrong.
    """
    edges = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = edges.select(F.col("a").alias("doc")).distinct().select(
        "doc", F.col("doc").alias("lbl")
    )
    labels = labels.localCheckpoint()
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["doc"])
            .groupBy(F.col("a").alias("doc2"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        propagated = labels.join(
            nbr_min, labels["doc"] == nbr_min["doc2"], "left"
        ).select(
            "doc",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                "lbl"
            ),
        )
        # Pointer jump: lbl <- label(lbl). Every lbl is a doc id (initially
        # itself; afterwards some node's previous label), so the self-join
        # always resolves; labels are monotone non-increasing either way.
        lookup = propagated.select(
            F.col("doc").alias("jd"), F.col("lbl").alias("jlbl")
        )
        new_labels = (
            propagated.join(lookup, propagated["lbl"] == lookup["jd"], "left")
            .select(
                "doc",
                F.coalesce(F.col("jlbl"), F.col("lbl")).alias("lbl"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        release(labels)
        labels = new_labels
        if changed == 0:
            break
    else:
        release(labels)
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter (rounds "
            f"needed ~ log2(component diameter))"
        )
    return register_intermediate(labels)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every doc in a near-dup component: the
    connected components of the MinHash-LSH pair graph, labeled by the
    component's minimum doc_id (the canonical "keep" doc).

    Runs ``connected_components`` (propagation + pointer jumping,
    O(log diameter) rounds of key-shuffled joins) over the symmetrized
    LSH pair graph. Near-dup components are shallow in practice, but the
    log-round bound means even pathological chain-shaped components (each
    doc near-dup only of its neighbors) converge within the default
    budget at any corpus size.
    """
    pairs = persisted(
        minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b").toDF("a", "b")
    )
    labels = connected_components(pairs)
    return labels.select(F.col("doc").alias("doc_id"), F.col("lbl").alias("cluster_id"))


# The cluster oracles: transitive closure of the LSH pair graph via
# recursive CTE, then each node's min reachable id. Fine for the oracle
# (components are small); the Spark side never materializes the closure.
_REACH_SQL = f"""
WITH RECURSIVE {_minhash_lsh_ctes()},
pairs AS ({_MINHASH_LSH_SELECT}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)"""
_CLUSTER_OF_SQL = (
    "SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a"
)

DEDUP_CLUSTERS_ORACLE = f"""{_REACH_SQL}
{_CLUSTER_OF_SQL}
"""


NGRAM_JACCARD_ORACLE = f"""
WITH sh AS ({DOC_SHINGLES_SQL}),
ex AS (SELECT doc_id, len(sh) AS n_sh, {md5_long_sql('unnest(sh)')} AS shingle FROM sh),
df_ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= {NGRAM_DF_CAP}),
exf AS (SELECT ex.* FROM ex JOIN df_ok USING (shingle)),
co AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
           count(*) AS common
    FROM exf a JOIN exf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(common::DOUBLE / (na + nb - common), 6) AS jaccard
FROM co
WHERE round(common::DOUBLE / (na + nb - common), 6) >= {JACCARD_THRESHOLD}
"""


# --- canonical-doc selection per near-dup cluster ---------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster, the document a dedup pass should KEEP:
    highest quality score, doc_id as the deterministic tie-break — the
    decision step that turns cluster labels into an actual dedup action
    (the common retention policy: keep the best-written copy, drop the
    rest).

    Composes ``dedup_clusters`` (propagation + pointer-jumping connected
    components) with the text quality signal (``textops.quality_score``)
    in one DAG: cluster labels LEFT-join quality on doc_id (both shuffled
    on the doc key), then one window pass per cluster picks the keeper.
    Cluster cardinality rides the same window — no second aggregation.
    The join is LEFT (not inner) so ``n_members`` stays the true cluster
    size even if the quality operator ever filters its row set; docs
    without a quality row rank last (NULLS LAST, doc_id tie-break).
    """
    from mapreduce_hadoop_spark.operators.textops import quality_score

    clusters = dedup_clusters(spark, sf_dir)
    quality = quality_score(spark, sf_dir).select("doc_id", "quality")
    joined = clusters.join(quality, "doc_id", "left")
    w = Window.partitionBy("cluster_id")
    ranked = joined.select(
        "cluster_id",
        "doc_id",
        "quality",
        F.row_number()
        .over(w.orderBy(F.col("quality").desc_nulls_last(), F.col("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("keep_doc"),
        "n_members",
        F.col("quality").alias("best_quality"),
    )


def _dedup_keep_best_oracle() -> str:
    from mapreduce_hadoop_spark.operators.textops import QUALITY_ORACLE

    return f"""{_REACH_SQL},
clusters AS (
    {_CLUSTER_OF_SQL}
),
q AS ({QUALITY_ORACLE}),
ranked AS (
    SELECT c.cluster_id, c.doc_id, q.quality,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY q.quality DESC NULLS LAST, c.doc_id) AS rn,
           CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_members
    FROM clusters c LEFT JOIN q ON q.doc_id = c.doc_id
)
SELECT cluster_id, doc_id AS keep_doc, n_members, quality AS best_quality
FROM ranked WHERE rn = 1
"""


DEDUP_KEEP_BEST_ORACLE = _dedup_keep_best_oracle()
