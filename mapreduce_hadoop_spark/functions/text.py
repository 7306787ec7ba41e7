"""Portable text expressions: tokens, shingles, and their SQL twins.

Used by the text-analysis and dedup operators. Every construct here has a
DuckDB-equivalent emitted by the matching ``*_sql`` helper so oracle queries
evaluate the identical computation.

The tokenizer is a plain single-space split (the `documents` corpus is
space-separated lowercase words); shingles are k-token n-grams joined by a
space, deduplicated. These compile to JVM array expressions
(split/sequence/transform/slice) — no UDFs, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword sets for the language-ID heuristic + quality scoring. Small,
# fixed, and embedded in both dialects.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def tokens_sql(expr: str) -> str:
    return f"string_split({expr}, ' ')"


def _shingle_strings(toks: Column, n: Column, k: int) -> Column:
    """All k-token shingle strings ("t_i t_i+1 ... t_i+k-1"), in order.

    Built by zip_with over k shifted views of the token array instead of a
    per-index ``array_join(slice(toks, i, k))`` transform: the strings are
    byte-identical, but the per-position slice allocation made the old form
    the single heaviest expression in the engine (measured 11.2 s of
    text_gopher_rules' 11.8 s distinct-count at sf1; this form 3.1 s).
    Callers must guard with ``n >= k`` (slice length must be positive).
    """
    m = n - F.lit(k - 1)
    acc = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(acc, F.slice(toks, j, m), lambda a, b: F.concat_ws(" ", a, b))
    return acc


# Shingle width, shared by shingles()/shingles_sql() AND by any prefilter
# that restates their emptiness guard on the raw token count
# (dedup._doc_shingles' `size(tokens) >= SHINGLE_K` — a
# hardcoded 3 there would silently desync if this width ever moved).
SHINGLE_K = 3


def shingles(text: Column | str) -> Column:
    """Distinct SHINGLE_K-token shingles as an array<string> (empty when
    < SHINGLE_K tokens)."""
    k = SHINGLE_K
    toks = tokens(text)
    n = F.size(toks)
    sh = _shingle_strings(toks, n, k)
    # Sorted-set canonical form: DuckDB's list_distinct does not preserve
    # first-occurrence order, so both dialects sort for a stable encoding.
    return F.when(n >= F.lit(k), F.array_sort(F.array_distinct(sh))).otherwise(
        F.array().cast("array<string>")
    )


def shingles_sql(expr: str) -> str:
    k = SHINGLE_K
    toks = tokens_sql(expr)
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_sort(list_distinct([array_to_string(({toks})[i:i+{k - 1}], ' ') "
        f"for i in range(1, len({toks}) - {k - 2})])) "
        f"ELSE [] END"
    )


def occurrence_count(toks: Column, words: list[str]) -> Column:
    """Number of tokens (with repeats) that appear in ``words``."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def occurrence_count_sql(toks_expr: str, words: list[str]) -> str:
    lit_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks_expr}, t -> t IN ({lit_list})))"


_ASCII_LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def contains_letter(tok: Column) -> Column:
    """True iff the token contains an ASCII letter — value-identical to
    ``tok.rlike("[A-Za-z]")`` but via ``translate`` (a table lookup per
    char) instead of a regex engine invocation per token."""
    return F.translate(tok, _ASCII_LETTERS, "") != tok


def distinct_shingle_count(text: Column | str) -> Column:
    """len(distinct SHINGLE_K-shingles) — value-identical to
    ``size(shingles(...))`` but skips the canonical ``array_sort`` (a count
    does not need order; measured ~20% of the shingle pipeline's cost)."""
    k = SHINGLE_K
    toks = tokens(text)
    n = F.size(toks)
    sh = _shingle_strings(toks, n, k)
    return F.when(n >= F.lit(k), F.size(F.array_distinct(sh))).otherwise(F.lit(0))
