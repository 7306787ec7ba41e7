"""Text analysis for training-data pipelines (north-star extension).

Four operator families over `documents`, all pure built-in expressions
(split/transform/filter/md5 — no UDFs, fully codegen'd), each with a DuckDB
oracle twin:

- language ID: character-trigram profile scoring with a deterministic argmax
- quality scoring: length/diversity/stopword signals -> [0,1] score
- token counting: whitespace tokens, a GPT-2-style pre-tokenizer regex
  count, and a chars/4 BPE-style estimate
- fingerprinting: full-text 60-bit hash + min-shingle-hash (winnowing-style)

At 100 TB these are embarrassingly parallel single-pass scans: no shuffle at
all (narrow select), so they run at storage bandwidth. The one exception is
the corpus-level vocabulary (``vocab_topk``), which aggregates across
documents — one token-keyed shuffle with map-side combine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_hadoop_spark.functions import text as T
from mapreduce_hadoop_spark.functions.hashing import md5_long, md5_long_sql
from mapreduce_hadoop_spark.sources.tables import load_table

LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break priority


# Characteristic character trigrams per language (space-padded word edges
# carry most of the signal; profiles are tiny fixed literals, broadcast as
# part of the plan — the classic n-gram-profile LID shrunk to a determinate,
# cross-engine-exact core).
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": [" th", "the", "he ", "ing", "ng ", " an", "and", "nd ", "ion", " of"],
    "de": ["der", "er ", " de", "ein", "ich", "sch", "und", " un", "en ", "ung"],
    "fr": [" le", "les", "es ", " de", "de ", "ent", "nt ", "que", " qu", "ais"],
    "es": [" de", "de ", " la", "la ", "los", " lo", "ión", "ara", " pa", "ue "],
}


def language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID: argmax over per-language overlap
    between the document's distinct trigrams and a fixed 10-trigram profile.
    Same deterministic tie-break as the stopword variant; agreement between
    the two heuristics is itself a data-quality signal. (The driver corpus's
    `lang` column is synthetic metadata not reflected in the text content —
    every doc draws from the same vocabulary — so label accuracy is not a
    meaningful target here; correctness is pinned by the oracle instead.)

    |distinct(trigrams(doc)) ∩ profile| is computed WITHOUT materializing
    the document's trigram set: a profile trigram is in the intersection
    iff it occurs anywhere in the padded text, so each count is 10
    substring-containment probes — 40 `contains` per doc total, replacing
    a ~|text|-element array build + array_distinct + 4 array_intersects
    per doc. Same integers, same hash; ~5x less per-doc CPU on this
    map-only scan (the whole cost at 100 TB is per-doc CPU). The scan is
    widened to cores (guarded no-op on wide scans; see widen_to_cores).
    """
    from mapreduce_hadoop_spark.sources.tables import load_table_widened

    docs = load_table_widened(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    counts = {
        lang: sum(
            (F.contains(padded, F.lit(g)).cast("int") for g in profile),
            F.lit(0),
        )
        for lang, profile in LANG_TRIGRAMS.items()
    }
    expr = None
    for i, lang in enumerate(LANG_ORDER):
        cond = counts[lang] > 0
        for other in LANG_ORDER[i + 1 :]:
            cond = cond & (counts[lang] >= counts[other])
        for other in LANG_ORDER[:i]:
            cond = cond & (counts[lang] > counts[other])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    pred = expr.otherwise(F.lit("unknown"))
    return docs.select(
        "doc_id",
        *[counts[lang].alias(f"tri_{lang}") for lang in LANG_ORDER],
        pred.alias("pred_lang"),
    )


def _language_id_ngram_oracle() -> str:
    padded = "(' ' || lower(text) || ' ')"
    c = {}
    for lang, profile in LANG_TRIGRAMS.items():
        probes = " + ".join(
            f"CAST(contains({padded}, '{g.replace(chr(39), chr(39) * 2)}') AS INT)"
            for g in profile
        )
        c[lang] = f"({probes})"
    whens = []
    for i, lang in enumerate(LANG_ORDER):
        conds = [f"{c[lang]} > 0"]
        conds += [f"{c[lang]} >= {c[other]}" for other in LANG_ORDER[i + 1 :]]
        conds += [f"{c[lang]} > {c[other]}" for other in LANG_ORDER[:i]]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " ELSE 'unknown' END"
    tri_cols = ", ".join(f"{c[lang]} AS tri_{lang}" for lang in LANG_ORDER)
    return f"SELECT doc_id, {tri_cols}, {case} AS pred_lang FROM documents"


LANGUAGE_ID_NGRAM_ORACLE = _language_id_ngram_oracle()


def quality_exprs() -> "dict[str, Column]":
    """THE quality-signal expressions over a ``text`` column, by output name —
    one definition shared by ``quality_score`` and every consumer that used
    to JOIN the quality relation back onto ``documents`` on doc_id
    (corpus.py). Both sides of such a join are map-only projections of the
    SAME scan, so the join was a pure self-join: projecting these
    expressions directly onto the consumer's scan computes identical values
    with one scan and zero join. Expression identity — not just value
    identity — is what this helper pins: consumers inline the exact Columns
    ``quality_score`` serves, so the driver-hashed bytes cannot drift
    between the standalone query and the fused ones.
    """
    toks = T.tokens("text")
    n_tok = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    sw = T.occurrence_count(toks, T.STOPWORDS_EN).cast("double")
    length_sig = F.least(F.lit(1.0), n_tok / F.lit(50.0))
    diversity = n_distinct / n_tok
    sw_sig = F.least(F.lit(1.0), sw / n_tok * F.lit(5.0))
    score = F.round(
        length_sig * F.lit(0.4) + diversity * F.lit(0.4) + sw_sig * F.lit(0.2), 6
    )
    return {
        "n_tokens": F.size(toks),
        "n_chars_measured": F.length("text"),
        "distinct_ratio": F.round(diversity, 6),
        "stopword_ratio": F.round(sw / n_tok, 6),
        "quality": score,
    }


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality signal: length, lexical diversity, stopword ratio."""
    docs = load_table(spark, sf_dir, "documents")
    exprs = quality_exprs()
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in exprs.items()]
    )


_TOKS = T.tokens_sql("text")
QUALITY_ORACLE = f"""
SELECT
    doc_id,
    len({_TOKS}) AS n_tokens,
    length(text) AS n_chars_measured,
    round(len(list_distinct({_TOKS}))::DOUBLE / len({_TOKS}), 6) AS distinct_ratio,
    round({T.occurrence_count_sql(_TOKS, T.STOPWORDS_EN)}::DOUBLE / len({_TOKS}), 6) AS stopword_ratio,
    round(
        least(1.0::DOUBLE, len({_TOKS}) / 50.0) * 0.4
        + (len(list_distinct({_TOKS}))::DOUBLE / len({_TOKS})) * 0.4
        + least(1.0::DOUBLE, {T.occurrence_count_sql(_TOKS, T.STOPWORDS_EN)}::DOUBLE / len({_TOKS}) * 5.0) * 0.2,
    6) AS quality
FROM documents
"""


# GPT-2-style pre-tokenizer, restricted to lookahead-free ASCII classes so
# Java regex (Spark) and RE2 (DuckDB) match identically: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# whitespace runs. Real BPE would further merge within these pieces, so this
# counts an upper bound on BPE tokens with the right segmentation behavior.
BPE_PRETOKEN_RE = r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens, BPE-ish regex pieces, chars/4 estimate per doc."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("ws_tokens"),
        F.regexp_count("text", F.lit(BPE_PRETOKEN_RE)).alias("bpe_regex_tokens"),
        F.ceil(F.length("text") / F.lit(4.0)).cast("bigint").alias("bpe_est_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


_BPE_RE_SQL = BPE_PRETOKEN_RE.replace("'", "''")
TOKEN_COUNTS_ORACLE = f"""
SELECT
    doc_id,
    len({_TOKS}) AS ws_tokens,
    CAST(len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS INT) AS bpe_regex_tokens,
    CAST(ceil(length(text) / 4.0::DOUBLE) AS BIGINT) AS bpe_est_tokens,
    length(text) AS n_chars_measured
FROM documents
"""


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: whole-text hash + min-shingle hash (winnowing).

    The min-shingle fingerprint is stable under small appends/truncations —
    the winnowing idea with window = whole document. The scan is widened
    to cores (guarded no-op on wide scans): measured 10.6 -> ~1.6 s at sf1.
    """
    from mapreduce_hadoop_spark.sources.tables import load_table_widened

    docs = load_table_widened(spark, sf_dir, "documents")
    sh = T.shingles("text")
    sh_hashes = F.transform(sh, lambda s: md5_long(s))
    return docs.select(
        "doc_id",
        md5_long(F.col("text")).alias("text_fp"),
        F.when(F.size(sh) > 0, F.array_min(sh_hashes))
        .otherwise(F.lit(None))
        .alias("min_shingle_fp"),
    )


_SH = T.shingles_sql("text")
FINGERPRINTS_ORACLE = f"""
SELECT
    doc_id,
    {md5_long_sql("text")} AS text_fp,
    CASE WHEN len({_SH}) > 0
         THEN list_min([{md5_long_sql("s")} for s in {_SH}])
         ELSE NULL END AS min_shingle_fp
FROM documents
"""


# --- TF-IDF ---------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: the classic corpus-weighting
    primitive (feature extraction / keyword summarization for training
    pipelines).

    tf = in-document term count; idf = ln((N+1)/(df+1)) + 1 (smoothed);
    score rounded once at the edge. Plan shape at scale: one explode ->
    shuffle on (doc_id, term) with map-side partial counts for tf, then df
    as ``count() OVER (PARTITION BY term)`` on that SAME relation — the
    previous ``tf.join(dfreq, "term")`` re-planned the whole tokenize+tf
    subtree under the dfreq aggregate (two full corpus explode passes,
    visible as two identical hashpartitioning(doc_id, term) exchanges with
    no ReusedExchange) and needed the vocabulary broadcast besides. The
    scalar N is broadcast; top-k is a per-doc window over the scored
    relation — no driver-side collects. Output identical: the window count
    per term IS df.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    terms = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    wdf = Window.partitionBy("term")
    scored = (
        tf.select(
            "doc_id", "term", "tf", F.count(F.lit(1)).over(wdf).alias("df")
        )
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tfidf")
    )


TFIDF_ORACLE = f"""
WITH terms AS (
    SELECT doc_id, unnest({T.tokens_sql('text')}) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM terms
    WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, term,
           round(tf * (ln((n_docs + 1)::DOUBLE / (df + 1)) + 1.0), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, term ASC) AS rank
    FROM scored
)
SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# --- document chunking ----------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 8


def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks per document — the 1->N
    windowing that turns a raw corpus into training sequences (context
    chunks for LLM pretraining / RAG indexing).

    Chunk k covers tokens [1 + (k-1)*stride, ... + size); a chunk is kept
    iff it contributes at least one token no earlier chunk covers (always
    true for chunk 1), so short documents yield exactly one chunk and no
    chunk is a suffix-duplicate of its predecessor. Map-only: the explode
    multiplies rows ~len/stride with zero shuffle; downstream ops see
    (doc_id, chunk_id) as the new record key.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = T.tokens("text")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(CHUNK_STRIDE))
    ex = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.posexplode(starts).alias("pos", "start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_TOKENS)
    return (
        ex.select(
            "doc_id",
            (F.col("pos") + 1).alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
        .filter(
            (F.col("chunk_id") == 1)
            | (F.col("n_tokens") > CHUNK_TOKENS - CHUNK_STRIDE)
        )
    )


DOCUMENT_CHUNKS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents
),
s AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks), {CHUNK_STRIDE})) AS start
    FROM t
),
c AS (
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS INT) + 1 AS chunk_id,
           list_slice(toks, start, start + {CHUNK_TOKENS} - 1) AS chunk
    FROM s
)
SELECT doc_id, chunk_id,
       array_to_string(chunk, ' ') AS chunk_text,
       CAST(len(chunk) AS INT) AS n_tokens
FROM c
WHERE chunk_id = 1 OR len(chunk) > {CHUNK_TOKENS - CHUNK_STRIDE}
"""


# --- normalization + repetition (corpus-cleaning stages) -------------------

_URL_RE = r"https?://\S+"
_WS_RE = r"\s+"


def normalize_text_col(c) -> "F.Column":
    """THE normalization expression — strip URLs, lowercase, collapse
    whitespace runs, trim — the normalization ``dedup.exact_dedup_normalized``
    hashes, oracle-verified through that query; pinned by
    tests/test_textops.py::test_normalize_expression_shared_with_dedup.
    The regexes use only constructs Java regex and DuckDB's RE2 interpret
    identically.
    """
    return F.trim(
        F.regexp_replace(F.lower(F.regexp_replace(c, _URL_RE, "")), _WS_RE, " ")
    )


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of duplicate 3-token shingles
    (1 - distinct/total), the standard boilerplate/looping-text quality
    filter for LLM corpora. Map-only over the in-row token array — total
    shingle count is n_tokens-2, distinct comes from the shared canonical
    shingle set, so no shuffle and no second tokenization pass. The
    division is exact-integer-fed and identically evaluated by both
    engines (deterministic; same guarantees as the fixed-point aggregates).

    The scan is widened to cores (guarded no-op on wide scans) — same
    narrow-split bound as gopher: measured 9.6 -> ~1.5 s at sf1.
    """
    from mapreduce_hadoop_spark.sources.tables import load_table_widened

    docs = load_table_widened(spark, sf_dir, "documents")
    toks = T.tokens("text")
    total = F.greatest(F.size(toks) - F.lit(2), F.lit(0))
    distinct = T.distinct_shingle_count("text")
    rep = F.when(
        total > 0,
        F.round(
            F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        total.alias("n_shingles"),
        distinct.alias("n_distinct"),
        rep.alias("repetition"),
    )


REPETITION_ORACLE = f"""
SELECT doc_id,
       greatest(len({T.tokens_sql("text")}) - 2, 0) AS n_shingles,
       len({T.shingles_sql("text")}) AS n_distinct,
       CASE WHEN greatest(len({T.tokens_sql("text")}) - 2, 0) > 0
            THEN round(1.0 - len({T.shingles_sql("text")})::DOUBLE
                           / greatest(len({T.tokens_sql("text")}) - 2, 0)::DOUBLE, 6)
            ELSE 0.0 END AS repetition
FROM documents
"""


# --- sequence packing -------------------------------------------------------

# Token budget of one packed training sequence (whitespace-token proxy —
# swap in a real tokenizer count upstream without changing the plan).
PACK_BUDGET = 512


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, ws_tokens, pack_id, pack_offset) — documents packed
    into fixed token-budget training sequences, the standard streaming pack:
    docs are laid end-to-end in doc_id order and a new sequence starts
    every PACK_BUDGET tokens (docs may straddle a boundary; offset says
    where in its first pack a doc begins).

    Scale shape: packing is per-source, so the window partitions by source
    and parallelizes across sources — no global ordering, no single-
    partition window. A production packer sub-shards outsized sources by
    key-hash prefix first; the per-shard math is exactly this cumsum.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(T.tokens("text")).cast("bigint")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(toks).over(w)
    start = cum - toks  # tokens laid down before this doc
    return docs.select(
        "doc_id",
        "source",
        toks.alias("ws_tokens"),
        F.floor(start / F.lit(PACK_BUDGET)).cast("bigint").alias("pack_id"),
        (start % F.lit(PACK_BUDGET)).alias("pack_offset"),
    )


PACK_SEQUENCES_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS ws_tokens
    FROM documents
),
c AS (
    SELECT doc_id, source, ws_tokens,
           sum(ws_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - ws_tokens AS start
    FROM t
)
SELECT doc_id, source, ws_tokens,
       CAST(start // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(start % {PACK_BUDGET} AS BIGINT) AS pack_offset
FROM c
"""


# --- PII scrubbing ---------------------------------------------------------

# Both patterns restrict themselves to syntax Java regex (Spark) and RE2
# (DuckDB) interpret identically: plain character classes, bounded repeats,
# no lookarounds/backrefs. Leftmost non-overlapping matching is the same in
# both engines, so counts and replacements agree byte-for-byte.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Phone: NANP-style numbers with optional +CC prefix —
#   415-555-0123 / 415.555.0123 / 415 555 0123 / 4155550123
#   (415) 555-0123 / (415)555-0123
#   +1 415 555 0123 / +1-415-555-0123 / +14155550123
# Neither engine's shared regex subset has lookarounds, so the digit-run
# boundary guards (a 10-digit substring of a longer ID/card number must NOT
# match) are CONSUMED guard groups: group 1 = preceding non-digit (or ^),
# group 5 = following non-digit (or $), restored in the replacement via
# group references ($1/$5 in Java, \1/\5 in RE2). Known limits, by design:
# two phones separated by a single character redact only the first (the
# separator is consumed by the first match's trailing guard), and
# non-NANP groupings (e.g. +44 20 7946 0958) don't match.
PII_PHONE_RE = (
    r"(^|[^0-9])"  # leading digit-run guard (group 1)
    r"((\+[0-9]{1,2}[-. ]?)?"  # optional +CC prefix (groups 2-3)
    r"(\([0-9]{3}\)[-. ]?|[0-9]{3}[-. ]?)"  # area code, () or bare (group 4)
    r"[0-9]{3}[-. ]?[0-9]{4})"
    r"([^0-9]|$)"  # trailing digit-run guard (group 5)
)
_PHONE_REPL_SPARK = "$1[PHONE]$5"
_PHONE_REPL_SQL = r"\1[PHONE]\5"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails then phone numbers from document text, counting each.

    The standard pre-training hygiene pass: deterministic regex redaction
    with per-document observability (how much was removed), map-only over
    the corpus — no shuffle, trivially 100 TB-safe. Phones are counted
    AFTER email redaction in both engines so a digit run inside an email
    never double-counts; ordering is part of the contract. Supported phone
    formats and the consumed-guard adjacency limit are documented at
    ``PII_PHONE_RE``.

    The driver corpus contains no PII (counts are 0, scrub is identity) —
    the operator's behavior on actual PII is pinned by the synthetic-string
    unit test (tests/test_formats.py::test_pii_scrub_redacts), the
    cross-engine agreement by the oracle hash.

    Deliberately NOT widened to cores: measured identical at sf1 with and
    without the exchange (4.29 s both; unlike the shingle folds, this op
    is scan/IO-bound, not per-doc-CPU-bound), so the plan keeps the pure
    map-only shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_email = F.regexp_count("text", F.lit(PII_EMAIL_RE)).cast("bigint")
    no_email = F.regexp_replace("text", PII_EMAIL_RE, "[EMAIL]")
    n_phone = F.regexp_count(no_email, F.lit(PII_PHONE_RE)).cast("bigint")
    scrubbed = F.regexp_replace(no_email, PII_PHONE_RE, _PHONE_REPL_SPARK)
    return docs.select(
        "doc_id",
        scrubbed.alias("text_scrubbed"),
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
    )


PII_SCRUB_ORACLE = f"""
SELECT
    doc_id,
    regexp_replace(
        regexp_replace(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
        '{PII_PHONE_RE}', '{_PHONE_REPL_SQL}', 'g'
    ) AS text_scrubbed,
    CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
    CAST(len(regexp_extract_all(
        regexp_replace(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'), '{PII_PHONE_RE}'
    )) AS BIGINT) AS n_phones
FROM documents
"""


# --- corpus-level vocabulary (tokenizer-prep) -------------------------------

VOCAB_TOP_K = 200


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``VOCAB_TOP_K`` most frequent tokens across the corpus, with
    corpus count and document frequency — the table a tokenizer-training
    (BPE/unigram) prep stage starts from.

    100 TB shape: explode -> two-phase aggregation on the token key. The
    map-side partial combine absorbs Zipf's law for the corpus count (the
    "the" key leaves each map task as ONE row regardless of how many
    billions of occurrences it has), so the shuffle carries at most
    |vocab| rows per task and the hot-token skew never reaches the wire;
    doc frequency rides the same shuffle via count(distinct-per-doc) on an
    exploded distinct token set. The final top-K is TakeOrderedAndProject
    (per-partition heaps), not a global sort. Deterministic tie-break
    (count desc, token asc). The tokenize+explode map side is widened to
    cores (guarded no-op on wide scans; see widen_to_cores).
    """
    from mapreduce_hadoop_spark.sources.tables import load_table_widened

    docs = load_table_widened(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    per_token = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return per_token.orderBy(
        F.col("n_occurrences").desc(), F.col("token")
    ).limit(VOCAB_TOP_K)


VOCAB_TOPK_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKS}) AS token FROM documents
)
SELECT token,
       count(*) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM tok
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT {VOCAB_TOP_K}
"""


# --- Gopher quality rules ---------------------------------------------------

# Rule thresholds after Gopher (Rae et al. 2021, "Scaling Language Models",
# table A1) — the published heuristic filter suite for web-scale pretraining
# corpora. Word-count bounds are the published Gopher values, used
# UNCHANGED (50..100k); only the required-stopword list is corpus-adapted
# (see GOPHER_STOPWORDS below).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_MIN = 3.0
GOPHER_MWL_MAX = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_DUP3_FRAC = 0.50
# Required-stopword list: Gopher counts distinct hits from a designated
# 8-word list ({the, be, to, of, and, that, have, with}); this corpus's
# 31-token synthetic vocabulary contains only {the, a} of common English
# stopwords, so the designated list here is the repo-wide STOPWORDS_EN
# (same rule machinery, corpus-adapted constants — see the note above).
GOPHER_STOPWORDS = list(T.STOPWORDS_EN)


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule evaluation: the five published heuristics
    (word count bounds, mean word length bounds, alphabetic-word fraction,
    required-stopword hits, duplicate-3-gram fraction) as named boolean
    columns plus the conjunction ``keep`` — the standard pre-training
    quality gate, kept per-rule so downstream can audit WHY a document was
    dropped (the operational requirement Gopher's appendix calls out).

    Map-only: every signal folds over the in-row token array (aggregate /
    filter / size — no explode, no shuffle, whole-stage codegen). Rules
    compare on the round(x, 6) value both here and in the oracle so the
    boolean never hinges on a sub-ulp difference between engines.

    The scan is widened to cores first (guarded: no-op on an
    already-wide scan) — at sf1 a single parquet file gave the heaviest
    per-doc op in the engine only 2 of 16 threads; see ``widen_to_cores``.
    """
    from mapreduce_hadoop_spark.sources.tables import load_table_widened

    docs = load_table_widened(spark, sf_dir, "documents")
    return gopher_rules_from(docs)


def gopher_rules_from(docs: DataFrame) -> DataFrame:
    """Gopher rule evaluation over any (doc_id, text) relation; see
    ``gopher_rules``."""
    toks = T.tokens("text")
    n = F.size(toks).cast("bigint")
    nd = n.cast("double")
    mwl = F.round(
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / nd,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, T.contains_letter)).cast("double") / nd, 6
    )
    # Distinct stopwords present: array_intersect hash-sets one side —
    # O(n + |stopwords|) vs the old per-stopword array_contains scan's
    # O(n * |stopwords|) (measured 2.14 -> 0.48 s at sf1). Value-identical:
    # both count the distinct members of the stopword list found in toks.
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))
    ).cast("bigint")
    n_sh_total = F.greatest(n - F.lit(2), F.lit(0).cast("bigint"))
    dup3 = F.when(
        n_sh_total > 0,
        F.round(
            F.lit(1.0)
            - T.distinct_shingle_count("text").cast("double")
            / n_sh_total.cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    r_wc = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    r_mwl = (mwl >= GOPHER_MWL_MIN) & (mwl <= GOPHER_MWL_MAX)
    r_alpha = alpha_frac >= GOPHER_MIN_ALPHA_FRAC
    r_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    r_rep = dup3 <= GOPHER_MAX_DUP3_FRAC
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        dup3.alias("dup3_frac"),
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stopwords"),
        r_rep.alias("r_repetition"),
        (r_wc & r_mwl & r_alpha & r_stop & r_rep).alias("keep"),
    )


GOPHER_RULES_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {_TOKS} AS toks,
           greatest(CAST(len({_TOKS}) AS BIGINT) - 2, 0) AS n_sh_total
    FROM documents
),
sig AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(list_sum(list_transform(toks, x -> len(x)))::DOUBLE
                 / len(toks), 6) AS mean_word_len,
           round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                 / len(toks), 6) AS alpha_frac,
           CAST(len(list_filter({GOPHER_STOPWORDS!r}, w -> list_contains(toks, w)))
                AS BIGINT) AS stop_hits,
           CASE WHEN n_sh_total > 0
                THEN round(1.0 - len({T.shingles_sql('text')})::DOUBLE / n_sh_total, 6)
                ELSE 0.0 END AS dup3_frac
    FROM t JOIN documents USING (doc_id)
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits, dup3_frac,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS r_word_count,
       mean_word_len BETWEEN {GOPHER_MWL_MIN} AND {GOPHER_MWL_MAX} AS r_mean_word_len,
       alpha_frac >= {GOPHER_MIN_ALPHA_FRAC} AS r_alpha,
       stop_hits >= {GOPHER_MIN_STOP_HITS} AS r_stopwords,
       dup3_frac <= {GOPHER_MAX_DUP3_FRAC} AS r_repetition,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
       AND (mean_word_len BETWEEN {GOPHER_MWL_MIN} AND {GOPHER_MWL_MAX})
       AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
       AND stop_hits >= {GOPHER_MIN_STOP_HITS}
       AND dup3_frac <= {GOPHER_MAX_DUP3_FRAC} AS keep
FROM sig
"""
