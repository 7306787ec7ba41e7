"""End-to-end corpus cleaning — the training-data pipeline, composed.

One DAG chaining the north-star operator families the way a real
LLM-data pipeline does: quality gate -> exact dedup -> near-dup removal ->
per-source corpus stats. Each stage is the already-oracle-checked operator
reused as-is; this query pins their *composition* (semi/anti-join
plumbing included) against a DuckDB twin of the whole pipeline.

Scale shape: the quality gate is a narrow scan-time filter; exact dedup is
one shuffle on the text hash; near-dup removal reuses MinHash-LSH (shuffle
on band keys, never all-pairs) and drops the larger doc_id of every
verified pair (greedy, deterministic — at 100 TB you'd union-find the pair
graph in O(pairs), which stays tiny relative to the corpus); the stats are
a partial-agg groupBy. No driver-side loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions.hashing import md5_long, md5_long_sql
from mapreduce_hadoop_spark.operators import dedup, textops
from mapreduce_hadoop_spark.session import persisted
from mapreduce_hadoop_spark.sources.tables import load_table

QUALITY_MIN = 0.5


def clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, quality, n_tokens) of the surviving corpus:
    quality >= 0.5, exact dups and near-dups removed, smaller doc_id
    survives. The pipeline's document-level output — ``corpus_clean_stats``
    aggregates it, the CLI ``corpus-clean`` job writes it.

    Plan shape: ONE scan of ``documents`` computes source, the quality
    signals (``textops.quality_exprs`` — the exact Columns the standalone
    quality query serves) and the 60-bit text hash together; exact-dedup
    keep status is ``dedup.keeper_id`` on that same relation. The near-dup
    ids are persisted and counted before the main query plans, so the
    planner sees the cache's real size: the anti-join plans statically as
    BroadcastHashJoin LeftAnti, and the corpus side streams through it with
    no exchange. The only corpus-wide movement is the keeper's hash-keyed
    window exchange.

    Ceiling: the broadcast holds while the near-dup id set is under the
    session's ``spark.sql.autoBroadcastJoinThreshold`` (64 MB in
    ``session.DEFAULT_CONF``, about 4M ids). Above it the same anti-join
    plans as SortMergeJoin — still correct, but the corpus then crosses a
    doc_id exchange.
    """
    exprs = textops.quality_exprs()
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        exprs["quality"].alias("quality"),
        exprs["n_tokens"].alias("n_tokens"),
        md5_long(F.col("text")).alias("h"),
    )
    # The keeper window sees ALL docs: the quality gate must not hide a
    # smaller-doc_id duplicate.
    keep = base.select("*", dedup.keeper_id().alias("keep_id"))
    near_dups = persisted(
        dedup.minhash_lsh_pairs(spark, sf_dir).select(F.col("doc_b").alias("doc_id"))
    )
    # Materialized before the main query plans: the anti-join is then
    # planned from the cache's real size, not an estimate.
    near_dups.count()
    survivors = keep.filter(
        (F.col("quality") >= F.lit(QUALITY_MIN))
        & (F.col("doc_id") == F.col("keep_id"))
    ).select("doc_id", "source", "quality", "n_tokens")
    return survivors.join(near_dups, "doc_id", "left_anti")


def clean_stats(clean: DataFrame) -> DataFrame:
    """Per-source (n_docs, total_tokens, avg_quality) of a ``clean_docs``
    relation, ordered by source."""
    # Fixed-point average: quality is quantized to nano BIGINTs and summed
    # as integers (order-independent, exact), then 6-dp HALF_UP is pure
    # integer arithmetic — round(p/q) = (p + q/2) div q on non-negative
    # values with q = 1000 * n_docs. A double avg() depends on the
    # partial-merge order and flips round(.., 6) at half-boundaries
    # run-to-run; this cannot. The oracle quantizes identically.
    return (
        clean.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.expr("cast(round(quality * 1e9) as bigint)")).alias("q_nano"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr(
                "((q_nano + 500 * n_docs) div (1000 * n_docs)) / 1e6"
            ).alias("avg_quality"),
        )
        .orderBy("source")
    )


def corpus_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stats of the cleaned corpus (quality >= 0.5, exact dups
    and near-dups removed, smaller doc_id survives)."""
    return clean_stats(clean_docs(spark, sf_dir))


CORPUS_CLEAN_ORACLE = f"""
WITH pairs AS (
    SELECT * FROM ({dedup.MINHASH_LSH_ORACLE})
),
quality AS ({textops.QUALITY_ORACLE}),
texth AS (SELECT doc_id, {md5_long_sql("text")} AS h FROM documents),
exact_keep AS (SELECT h, min(doc_id) AS keep_id FROM texth GROUP BY h),
exact_ok AS (
    SELECT doc_id FROM texth JOIN exact_keep USING (h) WHERE doc_id = keep_id
),
near_dups AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
clean AS (
    SELECT d.doc_id, d.source, q.quality, q.n_tokens
    FROM documents d
    JOIN quality q ON q.doc_id = d.doc_id
    WHERE q.quality >= {QUALITY_MIN}
      AND d.doc_id IN (SELECT doc_id FROM exact_ok)
      AND d.doc_id NOT IN (SELECT doc_id FROM near_dups)
),
grouped AS (
    SELECT source,
           count(*)      AS n_docs,
           -- DuckDB integer sum() -> HUGEINT -> pandas float64; cast keeps
           -- int64 to match Spark's BIGINT sum.
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CAST(round(quality * 1e9) AS BIGINT)) AS BIGINT) AS q_nano
    FROM clean
    GROUP BY source
)
SELECT source, n_docs, total_tokens,
       ((q_nano + 500 * n_docs) // (1000 * n_docs)) / 1e6 AS avg_quality
FROM grouped
ORDER BY source
"""


# --- domain mixing ----------------------------------------------------------

# Per-source share of the output corpus: each source is capped at 3% of
# the total, so over-represented domains are downsampled to quota and
# small domains pass through whole — the pretraining-mix rebalance. (The
# test corpus has 20 near-uniform ~5% sources, so a 3% quota actually
# binds: every source samples at rate ~0.6.)
DOMAIN_QUOTA = 0.03
_MIX_MOD = 1_000_000


def corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang) — deterministic per-source quota sampling.

    rate_s = min(1, quota * N_total / n_s); a doc survives iff
    md5(doc_id) % 1e6 < floor(rate_s * 1e6). The sample is a pure function
    of the key (stable across engines, retries, partitionings — same
    contract as events_hash_sample), and the rate relation is
    corpus-cardinality-sized (|sources| rows), so the plan is one tiny agg
    plus a broadcast join onto a map-only filter — no shuffle of the
    corpus itself.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    totals = counts.agg(F.sum("n_s").alias("n_total"))
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(DOMAIN_QUOTA) * F.col("n_total") / F.col("n_s"),
        ).alias("rate"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(
            md5_long(F.col("doc_id").cast("string")) % _MIX_MOD
            < F.floor(F.col("rate") * F.lit(float(_MIX_MOD))).cast("long")
        )
        .select("doc_id", "source", "lang")
    )


DOMAIN_MIX_ORACLE = f"""
WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM c),
r AS (
    -- CAST: DuckDB bare decimal literals are DECIMAL, not DOUBLE; the
    -- rate must be the same IEEE double Spark computes.
    SELECT source,
           least(CAST(1.0 AS DOUBLE),
                 CAST({DOMAIN_QUOTA} AS DOUBLE) * n_total / n_s) AS rate
    FROM c, t
)
SELECT doc_id, d.source, lang
FROM documents d JOIN r USING (source)
WHERE ({md5_long_sql("CAST(doc_id AS VARCHAR)")}) % {_MIX_MOD}
      < CAST(floor(rate * {_MIX_MOD}.0) AS BIGINT)
"""


# --- weighted sampling (Efraimidis-Spirakis A-Res) --------------------------

SAMPLE_K = 100
# Weight floor: a zero-quality doc must still be sampleable (and 1/w finite).
_W_FLOOR = 0.001
_U_MOD = 1_000_000


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``SAMPLE_K`` quality-weighted sample of the corpus —
    Efraimidis-Spirakis A-Res reservoir sampling, derandomized.

    Data curation samples documents proportional to a weight (here the
    quality score) rather than uniformly. A-Res draws u ~ U(0,1) per doc
    and keeps the K largest u^(1/w) — equivalently the K largest
    ln(u)/w, computed in the log domain for numeric range. Here u is a
    pure function of the key (md5(doc_id), same derandomization contract
    as events_hash_sample / corpus_domain_mix), so the sample is
    reproducible across engines, retries, and partitionings; the rank key
    is rounded to 9 dp so a last-ulp ln() difference between libm
    implementations cannot flip the selection boundary (same stance as
    the 6-dp cosine rounding in similarity.py).

    100 TB shape: the weight is computed IN the scan (it used to arrive
    through a doc_id self-join of the same table; values bit-identical
    via the shared ``textops.quality_exprs``) and the global top-K plans as
    TakeOrderedAndProject — per-partition heaps of K rows, then a
    K-row merge on the driver side of the exchange; no global sort, no
    single-partition window. K is model-sample-sized, not data-sized.
    """
    from mapreduce_hadoop_spark.operators.textops import quality_exprs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_exprs()["quality"].alias("quality")
    )
    u = (
        md5_long(F.col("doc_id").cast("string")) % _U_MOD + F.lit(0.5)
    ) / F.lit(float(_U_MOD))
    w = F.greatest(F.col("quality"), F.lit(_W_FLOOR))
    key = F.round(F.log(u) / w, 9)
    return (
        docs.select("doc_id", "source", "quality", key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(SAMPLE_K)
    )


def _weighted_sample_oracle() -> str:
    from mapreduce_hadoop_spark.operators.textops import QUALITY_ORACLE

    u = f"(({md5_long_sql('CAST(d.doc_id AS VARCHAR)')}) % {_U_MOD} + 0.5) / {_U_MOD}.0"
    return f"""
WITH q AS ({QUALITY_ORACLE}),
keyed AS (
    SELECT d.doc_id, d.source, q.quality,
           round(ln({u}) / greatest(q.quality, {_W_FLOOR}), 9) AS sample_key
    FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT doc_id, source, quality, sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT {SAMPLE_K}
"""


WEIGHTED_SAMPLE_ORACLE = _weighted_sample_oracle()


# --- deterministic train/val/test split -------------------------------------

# Percent-of-hash-space boundaries: [0,90) train, [90,95) val, [95,100) test.
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 95


def split_column() -> Column:
    """'train' / 'val' / 'test' for a documents row: a pure function of
    md5(doc_id), so re-running on a grown corpus never moves a doc."""
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, split) document and token counts for a deterministic
    90/5/5 train/val/test split.

    Split membership is a pure function of md5(doc_id) — the production
    requirement for dataset splits: stable under re-runs, ingestion order,
    partitioning, and engine, and consistent for a given doc across every
    derived artifact (a doc can never drift from test into train between
    pipeline versions). Map-only assignment plus one partial-aggregated
    shuffle on (source, split); output is |sources| x 3 rows. The token
    count is computed IN the scan (no doc_id self-join of the same
    table; values bit-identical via the shared
    ``textops.quality_exprs``).
    """
    from mapreduce_hadoop_spark.operators.textops import quality_exprs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_exprs()["n_tokens"].alias("n_tokens")
    )
    return (
        docs.select("source", split_column().alias("split"), "n_tokens")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


def _train_split_oracle() -> str:
    from mapreduce_hadoop_spark.operators.textops import QUALITY_ORACLE

    b = f"({md5_long_sql('CAST(d.doc_id AS VARCHAR)')}) % 100"
    return f"""
WITH q AS ({QUALITY_ORACLE}),
assigned AS (
    SELECT d.source,
           CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN {b} < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           q.n_tokens
    FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT source, split,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM assigned GROUP BY source, split
"""


TRAIN_SPLIT_ORACLE = _train_split_oracle()


# --- per-domain quality quota ------------------------------------------------

QUOTA_N = 20  # keep the N best-quality docs per source


def corpus_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``QUOTA_N`` best-quality documents per source — quota curation
    by rank rather than rate (``corpus_domain_mix`` is the rate twin:
    downsample uniformly to a share; this keeps the BEST N, the shape used
    for premium-domain upsampling).

    One shuffle on source; the per-source top-N is a window row_number,
    which at 100 TB is bounded by the largest single domain (the same
    partition the rate twin also has to scan) — not by corpus size.
    Deterministic tie-break on doc_id. The quality weight is computed IN
    the scan (no doc_id self-join of the same table; values
    bit-identical via the shared ``textops.quality_exprs``).
    """
    from mapreduce_hadoop_spark.operators.textops import quality_exprs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_exprs()["quality"].alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", "quality", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= QUOTA_N)
    )


def _domain_quota_oracle() -> str:
    from mapreduce_hadoop_spark.operators.textops import QUALITY_ORACLE

    return f"""
WITH q AS ({QUALITY_ORACLE}),
ranked AS (
    SELECT d.doc_id, d.source, q.quality,
           row_number() OVER (PARTITION BY d.source
                              ORDER BY q.quality DESC, d.doc_id) AS rk
    FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT doc_id, source, quality, rk FROM ranked WHERE rk <= {QUOTA_N}
"""


DOMAIN_QUOTA_ORACLE = _domain_quota_oracle()
