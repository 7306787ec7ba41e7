"""Deterministic, engine-portable hashing.

Spark's native ``hash()``/``xxhash64()`` are fast but their exact algorithm
is not reproducible in other SQL engines, which breaks DuckDB-oracle
verification. ``md5_long`` is the portable primitive every dedup /
fingerprint / sampling operator uses: Spark and DuckDB produce identical
md5 hex digests, and the first 15 hex chars (60 bits) fit a signed 64-bit
integer exactly; ``md5_long_sql`` is its DuckDB text. ``minhash_params``
derives the MinHash universal-hash family without an RNG library.

Scale note: md5 is ~3x slower than xxhash64 but still JVM-side, codegen'd,
and embarrassingly parallel — at 100 TB it is bandwidth-, not hash-bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Modulus for the MinHash universal-hash family: largest prime < 2^31.
# Kept small enough that a*h+b stays far inside int64 for h < 2^31.
MINHASH_PRIME = 2147483647
MINHASH_SEED = 42


def md5_long(c: Column | str) -> Column:
    """60-bit non-negative integer hash of a string column:
    ``int(md5(s)[0:15], 16)`` — identical in DuckDB as
    ``('0x' || substr(md5(s), 1, 15))::ubigint``.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of ``md5_long`` for oracle queries."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS UBIGINT)::BIGINT"


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """(a, b) pairs for the universal hash family h_i(x) = (a*x + b) mod p.

    Deterministic in ``MINHASH_SEED`` via a splitmix-style integer
    recurrence (no RNG library, so the exact same values are trivially
    re-derivable in SQL or any other engine).
    """
    params = []
    state = MINHASH_SEED & 0xFFFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        a = (state >> 16) % (MINHASH_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        b = (state >> 16) % MINHASH_PRIME
        params.append((a, b))
    return params
